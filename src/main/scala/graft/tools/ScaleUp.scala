package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Replication scale-up for load testing: writes an N× surrogate of a
  * testdata sf dir as N disjoint key universes (every id column gets
  * replica·stride added), so row volume scales linearly while join
  * fan-outs and per-key densities stay those of the source — the
  * shape real TPC-H scaling has, and the honest way to measure "would
  * this plan survive 10×?" without inventing new data distributions.
  *
  * documents.text gets a per-replica marker token spliced in after
  * every 8 words plus a trailing suffix (replica 0 is verbatim), and
  * n_chars is recomputed from the perturbed text. A suffix alone only
  * breaks exact-hash equality: on 3-shingles it leaves cross-replica
  * jaccard at ~s/(s+6), which stays >= 0.8 for any doc over ~26
  * words, so near-dup pair counts would still grow quadratically in
  * copies. One marker per 8 words breaks ~2 and adds ~3 shingles per
  * splice, pushing jaccard to ~0.55 for long docs; the suffix covers
  * the short-doc tail (few shingles, so +3 marker shingles dominate).
  *
  * events.ts is copied in its RAW arriving encoding (no ts
  * normalization — nanos longs stay longs, timestamp_ntz stays ntz),
  * so the written copy replays the source's physical encoding and
  * Tables.normalizeEventsTs handles it on read like the original.
  * Timestamps are NOT offset: 10× event density in the
  * same time range is exactly what a 10× cluster ingests.
  *
  * Usage: runMain graft.tools.ScaleUp [srcDir] [dstDir] [copies]
  * Defaults: /root/testdata/sf0.1 → /tmp/graft-sf1 ×10.
  */
object ScaleUp {
  private val stride = 100000000L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "/tmp/graft-sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session.local()

    def replicate(base: DataFrame, keyCols: Seq[String],
        perturbText: Option[String]): DataFrame =
      (0 until copies).map { i =>
        val keyed = keyCols.foldLeft(base)((df, c) =>
          df.withColumn(c, col(c) + lit(i * stride)))
        perturbText match {
          case Some(tc) if i > 0 =>
            val marked = regexp_replace(
              col(tc), "((\\S+\\s+){8})", s"$$1zr${i}q ")
            val perturbed =
              keyed.withColumn(tc, concat(marked, lit(s" zr${i}q")))
            // explicit int64: length() is IntegerType, and relying on
            // unionByName widening against the verbatim replica-0
            // slice would silently narrow the column if replica 0
            // were ever dropped or perturbed too
            if (perturbed.columns.contains("n_chars"))
              perturbed.withColumn("n_chars", length(col(tc)).cast("long"))
            else perturbed
          case _ => keyed
        }
      }.reduce(_ unionByName _)

    val specs: Seq[(String, Seq[String], Option[String])] = Seq(
      ("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"), None),
      ("orders", Seq("o_orderkey", "o_custkey"), None),
      // nationkeys are NOT offset: nation/region stay 1× (bounded
      // dims), so FKs into them must keep resolving for every replica
      ("customer", Seq("c_custkey"), None),
      ("supplier", Seq("s_suppkey"), None),
      ("part", Seq("p_partkey"), None),
      ("events", Seq("user_id", "event_id"), None),
      ("documents", Seq("doc_id"), Some("text")),
      ("embeddings", Seq("vec_id"), None),
      // bounded dims stay 1×: at any real SF region/nation are fixed
      ("region", Seq(), None),
      ("nation", Seq(), None))

    specs.foreach { case (name, keys, perturb) =>
      val base =
        if (name == "events") {
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          // keep the raw arriving encoding (no ts normalization):
          // the scaled copy must replay whatever encoding the source
          // had, and Tables.normalizeEventsTs handles both on read
          spark.read.parquet(graft.Tables.path(src, name))
        } else spark.read.parquet(graft.Tables.path(src, name))
      val present = keys.filter(base.columns.contains)
      require(present == keys,
        s"[scaleup] $name: key columns ${keys.diff(present).mkString(",")} " +
          s"absent from ${base.columns.mkString(",")} — a silent skip " +
          "would replicate rows verbatim with duplicated ids")
      val out = if (keys.isEmpty) base
        else replicate(base, keys, perturb)
      out.write.mode("overwrite")
        .parquet(graft.Tables.path(dst, name))
      System.err.println(s"[scaleup] $name done")
    }
    spark.stop()
  }
}
