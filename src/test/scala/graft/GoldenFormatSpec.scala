package graft

import graft.tools.GoldenStoreGen

/** Persisted-format compatibility gate. The committed golden stores
  * (`src/test/resources/golden/v1`, ... — each written ONCE by the
  * build that defined that format version, via
  * `runMain graft.tools.GoldenStoreGen`) are read by the CURRENT
  * build's readers and compared against pinned canonical hashes. At
  * 100 TB the persisted artifacts (epoched tables, dedup label/index
  * stores, PQ indexes, sketch tables) outlive deploys — rebuilding
  * them on a format change costs corpus-scale compute, so a format or
  * read-semantics change MUST be a conscious decision:
  *
  *   - If this spec fails after a storage/layout/codec change, old
  *     stores in production would break or silently change meaning
  *     under the new build. Either restore compatibility, or roll the
  *     format DELIBERATELY per "Persisted-format evolution" in
  *     README.md: generate `v2/` alongside `v1/`, pin it below, and
  *     KEEP v1 committed and green — the old stores in production
  *     don't disappear because the format moved on.
  *   - The spec reads a COPY: some read paths are self-repairing
  *     (stranded-batch rescue, promotion) and may write; the
  *     committed bytes must stay pristine.
  *
  * The spec is version-GENERIC: every directory under
  * `src/test/resources/golden/` must have a pinned hash map here and
  * must read back exactly. That shape reserves the
  * v1-read-under-v2-code case in advance — when v2 lands, v1 stays in
  * the loop automatically (backward compat proven every build), and a
  * committed-but-unpinned version dir fails loudly instead of rotting.
  *
  * The probe frames and read surface live in [[GoldenStoreGen]] —
  * one definition shared with the generator, so the comparison can
  * never drift from what was pinned.
  */
class GoldenFormatSpec extends SparkSuite {

  /** One pinned (rowCount, canonicalHash) map per committed format
    * version. Rolling vN+1: run GoldenStoreGen into
    * `src/test/resources/golden/vN+1`, paste its GOLDEN lines here
    * under the new key, keep every prior version's entry (and bytes)
    * until its read support is dropped deliberately — dropping one
    * means removing the dir AND the entry in the same commit, with
    * the migration story for live stores documented (README.md,
    * "Persisted-format evolution"). */
  private val pinnedByVersion: Map[String, Map[String, (Long, String)]] = Map(
    "v1" -> Map(
      "epoched" -> (6L, "af2d8c2bdd93a5536bdf12ec449c926e5674bc8e454360de452ff074d7345ea6"),
      "labels" -> (60L, "a458af71f1fd944eb94686dc46521fa7815fd64afff973e1e169783fb2aea8d5"),
      "dedup_incremental" -> (12L, "602cc644ef8ab06ea388074af58554cb39e4c672d9ac18d64808a3ab31095877"),
      "pq_knn" -> (18L, "0ffff989548867b719aca2e1ebc6c58ff0d8d0cc706cc4fee32fe1fea2b84f31"),
      "sketches" -> (20L, "e73937f1798355cbe05e9f44660deafe33bc50bcb9a216d842607583e0596eb5"),
      "sketches_dashboard" -> (21L, "12ba430b25543d0b7c62c1af56066fed27cb5a22bb86b66f83a4cf9cf0976a73")),
    // v2 (round 20): the sketch family re-encoded zstd (EpochedTable
    // gained a per-table codec — see sketchesTable's rationale); every
    // other family unchanged. Content hashes EQUAL v1's by design: a
    // codec is parquet-transparent, so the roll proves the procedure
    // (fresh dir, pin, 1:1 completeness) and — the real payload — that
    // v1's snappy bytes stay green under the v2 writer's code path.
    "v2" -> Map(
      "epoched" -> (6L, "af2d8c2bdd93a5536bdf12ec449c926e5674bc8e454360de452ff074d7345ea6"),
      "labels" -> (60L, "a458af71f1fd944eb94686dc46521fa7815fd64afff973e1e169783fb2aea8d5"),
      "dedup_incremental" -> (12L, "602cc644ef8ab06ea388074af58554cb39e4c672d9ac18d64808a3ab31095877"),
      "pq_knn" -> (18L, "0ffff989548867b719aca2e1ebc6c58ff0d8d0cc706cc4fee32fe1fea2b84f31"),
      "sketches" -> (20L, "e73937f1798355cbe05e9f44660deafe33bc50bcb9a216d842607583e0596eb5"),
      "sketches_dashboard" -> (21L, "12ba430b25543d0b7c62c1af56066fed27cb5a22bb86b66f83a4cf9cf0976a73")))

  private val fixtureDir = "/root/testdata/sf0.001"

  test("the current build reads every committed golden store byte-identically") {
    val root = new java.io.File("src/test/resources/golden")
    assert(root.isDirectory, s"golden root missing at ${root.getAbsolutePath}")
    val versions = root.listFiles().filter(_.isDirectory).map(_.getName)
      .toSeq.sorted
    assert(versions.nonEmpty, "no committed golden store versions")
    // committed dirs and pinned maps must match 1:1 — a generated-but-
    // unpinned v2 (or a pinned-but-deleted v1) breaks the build
    // instead of silently dropping a compatibility guarantee
    assert(versions == pinnedByVersion.keys.toSeq.sorted,
      s"committed golden versions $versions != pinned " +
        s"${pinnedByVersion.keys.toSeq.sorted} — roll or retire formats " +
        "per README.md 'Persisted-format evolution'")
    versions.foreach { version =>
      val pinned = pinnedByVersion(version)
      val src = new java.io.File(root, version)
      val tmp = java.nio.file.Files.createTempDirectory("graft-golden").toFile
      try {
        val work = new java.io.File(tmp, version)
        org.apache.commons.io.FileUtils.copyDirectory(src, work)
        val readers = GoldenStoreGen.readers(spark, work.toString, fixtureDir)
        // completeness per version: every pinned artifact read, every
        // read pinned — adding an artifact to the generator without
        // pinning it here (or vice versa) breaks the build
        assert(readers.map(_._1).sorted == pinned.keys.toSeq.sorted,
          s"$version: generator read surface and pinned hashes diverged")
        readers.foreach { case (name, rd) =>
          val (n, h) = StorageHygiene.run(spark, "golden-spec", name)(rd())(
            GoldenStoreGen.canonicalHash).release().get
          assert((n, h) == pinned(name),
            s"$version/$name: persisted-format drift — read ($n, $h), " +
              s"pinned ${pinned(name)}. If the at-rest format changed on " +
              "purpose, roll the store deliberately per README.md " +
              "'Persisted-format evolution' (generate vN+1, pin it, keep " +
              s"$version green) — do NOT re-pin this hash in place.")
        }
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    }
  }
}
