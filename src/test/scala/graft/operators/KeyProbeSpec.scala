package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins for [[KeyProbe]]'s literal-push decision table: EVERY push —
  * the ≤64k single `In` included, since round 17 — is cost-gated on
  * scanned-dir bytes against the measured fixed cost of the literal
  * machinery (`bulk_probe_chunked_ab_r16` + the r16 committed
  * `dedup_index_novel` regression in the bench ledger), the force seam
  * bypasses the gate for rows-axis pins, and neither direction can
  * change answers (a declined push is a superset, an applied one is an
  * exact filter).
  */
class KeyProbeSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  test("pushWorthIt: the pure cost table — under-cap break-even is " +
    "n×BytesPerLiteral, over-cap adds the sliced-scan floor") {
    val bpl = KeyProbe.BytesPerLiteral
    // a handful of literals pays for itself against anything non-tiny
    assert(KeyProbe.pushWorthIt(3, 3 * bpl))
    assert(!KeyProbe.pushWorthIt(3, 3 * bpl - 1))
    // the r16 committed regression's shape: ~60k literals vs a 3 MB toy
    // index — must DECLINE (the push was pure fixed cost there) ...
    assert(!KeyProbe.pushWorthIt(60000, 3L << 20))
    // ... and PUSH once the table is past the literals' break-even
    assert(KeyProbe.pushWorthIt(60000, 60000L * bpl))
    // over-cap: the sliced-scan floor applies on top of the per-literal
    // term. With the r19-recalibrated 32 KB/literal the per-literal term
    // exceeds the floor everywhere past the cap (64k × 32 KB = 2 GB), so
    // the max() is governed by n×bpl throughout — the floor remains as
    // defense-in-depth for a future smaller constant
    val over = KeyProbe.MaxKeyLiterals + 1
    assert(!KeyProbe.pushWorthIt(over, KeyProbe.ChunkedScanMinBytes - 1))
    assert(!KeyProbe.pushWorthIt(over, over.toLong * bpl - 1))
    assert(KeyProbe.pushWorthIt(over, over.toLong * bpl))
    // ... and far past the cap the per-literal term keeps governing
    val big = 4 * KeyProbe.MaxKeyLiterals
    assert(!KeyProbe.pushWorthIt(big, KeyProbe.ChunkedScanMinBytes))
    assert(KeyProbe.pushWorthIt(big, big.toLong * bpl))
  }

  test("keyFiltered: gate declines a push against a small dir (superset " +
    "comes back), the force seam applies it, and both answer the same") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kp").toString
    val df0 = (1 to 1000).map(i => s"k$i").toDF("k")
    df0.write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    KeyProbe.clearDirBytesMemo()
    try {
      // a tiny parquet dir is far under any break-even: under-cap
      // literals come back UNFILTERED (the caller's partition pruning
      // still applies; the full scan is wall-cheaper at this size)
      val some = KeyProbe.keyFiltered(df, "k", Seq("k1", "k2", "kxx"), dir)
      assert(some.count() === 1000L,
        "under-cap literals against a tiny dir must decline the push")
      // over the cap against the same tiny dir: same decline
      val big = (1 to KeyProbe.MaxKeyLiterals + 5)
        .map(i => f"k$i%07d").sorted.map(_.asInstanceOf[Any])
      assert(KeyProbe.keyFiltered(df, "k", big, dir).count() === 1000L)
      // the force seam bypasses the gate: the push APPLIES and filters
      sys.props("graft.chunked.probe") = "force"
      try {
        val forced =
          KeyProbe.keyFiltered(df, "k", Seq("k1", "k2", "kxx"), dir)
        assert(forced.count() === 2L)
        // forced over-cap slices are answer-preserving too: slices
        // partition the literal set, so no row matches twice or drops —
        // k1..k1000 zero-padded to 7 digits are all inside `big`
        val padded = df.select(format_string("k%07d",
          regexp_extract(col("k"), "\\d+", 0).cast("int")).as("k"))
        assert(KeyProbe.keyFiltered(padded, "k", big, dir).count() === 1000L)
      } finally { sys.props.remove("graft.chunked.probe"); () }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("keyFiltered: pushes once the dir is past the literals' break-even") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kp2").toString
    try {
      // ~1MB of high-entropy parquet vs 3 literals (96KB break-even):
      // the gate must PUSH and the filter must apply
      def hex(s: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes).map("%02x".format(_)).mkString
      (1 to 2000).map(i =>
          (s"k$i", (1 to 20).map(j => hex(s"$i-$j")).mkString))
        .toDF("k", "pad")
        .write.mode("overwrite").parquet(dir)
      KeyProbe.clearDirBytesMemo()
      val df = spark.read.parquet(dir)
      val some = KeyProbe.keyFiltered(df, "k", Seq("k1", "k2", "kxx"), dir)
      assert(some.count() === 2L,
        "3 literals against a ~1MB dir are past break-even: must push")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("layoutKey: one stable row per logical layout dir — UUID scratch " +
    "components dropped, compaction generations folded, nested layouts " +
    "that previously aliased now distinct") {
    val k = KeyProbe.layoutKey _
    // scratch-UUID components (contain '-' and are long) never enter the
    // key, so bench-artifact keys are reproducible across runs
    assert(k("/tmp/wh/graft_scratch/ct_0a1b2c3d-4e5f-6071-8293-a4b5c6d7e8f9/grams")
      === "graft_scratch/grams")
    assert(k("/tmp/wh/graft_scratch/ct_ffffffff-0000-1111-2222-333333333333/grams")
      === "graft_scratch/grams")
    // compaction generations fold to ONE key per logical layout (the
    // ledger stays bounded over a long-lived process's generations)
    assert(k("/wh/corpus_index/postings_v7") === k("/wh/corpus_index/postings_v12"))
    assert(k("/wh/corpus_index/postings_v7") === "wh/corpus_index/postings")
    // nested layouts that the old 2-component tail aliased (last-write-
    // wins) are now distinct: the parent index dir rides into the key
    assert(k("/wh/corpus_index/postings_v3/_ids") === "corpus_index/postings/_ids")
    assert(k("/wh/eval_index/offered") !== k("/wh2/corpus_index/offered"))
  }
}
