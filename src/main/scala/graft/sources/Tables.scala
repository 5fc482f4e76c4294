package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The fixture tables' file layout: table `name` of a scale-factor
  * directory is `<dir>/<name>.parquet`. Every read of a fixture table
  * in `src/main` comes through here, and [[EventsAsRecords.readEvents]]
  * adds the events table's `ts` normalization on top. The only other
  * parquet reads are operators reading back stores they persisted
  * themselves (SourceDisciplineSpec pins the list).
  */
object Tables {

  /** Table `name` of the scale-factor directory `dir`, as stored. */
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def documents(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "documents")

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "embeddings")
}
