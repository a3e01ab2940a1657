package graft
import graft.core.GraftSession
import org.apache.spark.sql.functions._

/** Deterministic N× replication of an sf dir — the scale-rehearsal input
  * generator: the shipped testdata tops out at sf0.1, so extending the
  * measured scale band (index probes, `--corpus` releases, incremental
  * publishes) needs a bigger corpus with the SAME statistical shape.
  *
  * Replica 0 is the source verbatim; replicas 1-25 apply a Caesar-shift-i
  * substitution over both alphabet cases to `text`. A full substitution
  * cipher maps every token to a token no other replica produces, so the
  * replicas' shingle sets are pairwise DISJOINT — each replica contributes
  * genuinely novel documents (no cross-replica near-dups) while token
  * lengths, band-size distributions, and the source's internal duplicate
  * structure are preserved exactly. doc_id / o_orderkey get per-replica
  * offsets so keys stay unique.
  *
  * Replicas >= 26 (round 19): the 26 rotations are exhausted — cascading
  * SynthScale over its own output collides (rotation i of rotation j IS
  * rotation i+j mod 26), which capped the rehearsal corpus at 26× and
  * left the probe gate's ABOVE-boundary arm unmeasured (r18 verdict №1).
  * Each replica i >= 26 instead appends a fixed-width per-replica marker
  * (`q` + two base-26 letters of i-26) to every whitespace token: the
  * repo's one tokenizer is `split(trim(text), "\s+")`, so same-width
  * distinct suffixes keep the suffixed replicas' token sets pairwise
  * disjoint by construction, and disjoint from the rotation replicas up
  * to the same rare accidental-word collisions rotations already accept.
  * Token counts, per-doc shingle-set sizes, and the internal duplicate
  * structure are preserved exactly; token LENGTH grows by 3 chars on
  * suffixed replicas (and the `n_chars` column keeps the source value) —
  * acceptable for the gate-geometry rehearsals this feeds, which key on
  * postings-row counts and band-key distributions, not character counts.
  * Cap 702 = 26 rotations + 26² markers.
  *
  * Usage: `runMain graft.SynthScale <srcSfDir> <outDir> [mult]`
  * (writes `documents.parquet` and `orders.parquet`).
  */
object SynthScale {
  def main(args: Array[String]): Unit = {
    val src = args(0); val out = args(1)
    val mult = args.lift(2).map(_.toInt).getOrElse(10)
    require(mult >= 1 && mult <= 702, "mult must be in [1, 702]")
    val spark = GraftSession.getOrCreate()
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    def shifted(s: String, i: Int) = s.drop(i) + s.take(i)

    // testdata layout is one parquet FILE per table (consumers Files.copy
    // them); write a single part and move it into place
    def writeSingleFile(df: org.apache.spark.sql.DataFrame,
                        table: String): Unit = {
      val tmp = s"$out/_tmp_$table"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val dir = new java.io.File(tmp)
      val part = dir.listFiles.find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file for $table"))
      val dest = new java.io.File(s"$out/$table.parquet")
      if (dest.exists) { dest.delete(); () }
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dir.listFiles.foreach(_.delete()); dir.delete()
      ()
    }

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docCopies = (0 until mult).map { i =>
      val t =
        if (i == 0) col("text")
        else if (i < 26) translate(col("text"), lower + upper,
          shifted(lower, i) + shifted(upper, i))
        else {
          // fixed-width per-replica token marker (see scaladoc): "$1" is
          // the whole whitespace token, the marker never contains '$'
          val b = i - 26
          val marker = s"q${lower(b / 26)}${lower(b % 26)}"
          regexp_replace(col("text"), "(\\S+)", "$1" + marker)
        }
      docs.select((col("doc_id") + lit(i.toLong * 100000000L)).as("doc_id"),
        t.as("text"), col("lang"), col("source"), col("n_chars"))
    }
    writeSingleFile(docCopies.reduce(_ unionByName _), "documents")

    // 1e11 stride: far above any sf's key range AND disjoint from the
    // +1e10 insert offset the incremental bench scenario adds (a 1e9
    // stride put replica 10's range exactly on that offset — colliding
    // grain keys made the 20x delta fail its grain audit)
    val orders = spark.read.parquet(s"$src/orders.parquet")
    val orderCopies = (0 until mult).map { i =>
      orders.withColumn("o_orderkey",
        col("o_orderkey") + lit(i.toLong * 100000000000L))
    }
    writeSingleFile(orderCopies.reduce(_ unionByName _), "orders")

    println(s"synth: wrote ${mult}x documents+orders from $src to $out")
    spark.stop()
  }
}
