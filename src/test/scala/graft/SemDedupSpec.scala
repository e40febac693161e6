package graft

import org.apache.spark.sql.functions._

import graft.vector.{SemDedup, VectorFunctions}

/** SemDeDup contracts: the keep-set is exactly "no lower-id same-cell
  * near-dup", pair recall vs the exact all-pairs set is bounded, and
  * the op is deterministic across runs. */
class SemDedupSpec extends SparkSuite {
  import spark.implicits._

  private val threshold = 0.45
  private lazy val emb = Tables.table(spark, sf0001, "embeddings")

  test("keep ∪ dropped partitions the corpus; no kept same-cell dup pair") {
    val kept = SemDedup.keep(emb, "vec_id", "embedding",
      cells = 8, threshold = threshold, probes = 3).cache()
    val n = emb.count()
    val keptIds = kept.select($"vec_id").as[Long].collect().toSet
    assert(keptIds.size == kept.count())
    assert(keptIds.size <= n)
    // no within-cell near-dup pair has BOTH ends kept
    val pairs = SemDedup.withinCellPairs(emb, "vec_id", "embedding",
      cells = 8, threshold = threshold, probes = 3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    val bothKept = pairs.filter { case (a, b) => keptIds(a) && keptIds(b) }
    assert(bothKept.isEmpty,
      s"pairs with both ends kept: ${bothKept.take(5).mkString(",")}")
    // every dropped id has a kept-or-dropped LOWER-id witness in its cell
    val dropWitness = pairs.map(_._2).toSet
    val dropped = emb.select($"vec_id").as[Long].collect().toSet -- keptIds
    assert(dropped == dropWitness,
      s"dropped set must equal the id_b witness set: " +
        s"extra=${(dropped -- dropWitness).take(5)} " +
        s"missing=${(dropWitness -- dropped).take(5)}")
    kept.unpersist()
  }

  test("within-cell pair recall vs the exact all-pairs set") {
    val exact = VectorFunctions.cosineNearDupPairs(
        emb, "vec_id", "embedding", threshold)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val got = SemDedup.withinCellPairs(emb, "vec_id", "embedding",
        cells = 8, threshold = threshold, probes = 3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(exact), "within-cell pairs must be exact pairs")
    val recall =
      if (exact.isEmpty) 1.0 else got.size.toDouble / exact.size
    info(f"semdedup pair recall at t=$threshold: $recall%.3f " +
      s"(${got.size}/${exact.size})")
    assert(recall >= 0.6, f"recall $recall%.3f below bound")
  }

  test("a null vector stays in the keep manifest with a null cell") {
    // the lowest id, so it would also be the first IVF seed if the fit
    // did not skip null vectors
    val nullRow = spark.range(1).select(lit(-1L).as("vec_id"),
      lit(null).cast(emb.schema("embedding").dataType).as("embedding"))
    val corpus = emb.select($"vec_id", $"embedding").union(nullRow)
    def manifest(df: org.apache.spark.sql.DataFrame) =
      SemDedup.keep(df, "vec_id", "embedding",
        cells = 8, threshold = threshold, probes = 3)
        .select($"vec_id", $"cell".cast("long"))
        .as[(Long, Option[Long])].collect().sorted.toSeq
    val got = manifest(corpus)
    assert(got.count(_._1 == -1L) === 1)
    assert(got.find(_._1 == -1L).get._2.isEmpty, "null vector has no cell")
    // the non-null vectors' manifest is unchanged by the null row
    assert(got.filterNot(_._1 == -1L) === manifest(emb))
  }

  test("deterministic: two runs produce the identical keep manifest") {
    def run() = SemDedup.keep(emb, "vec_id", "embedding",
      cells = 8, threshold = threshold, probes = 3)
      .select($"vec_id", $"cell").as[(Long, Int)].collect().sorted.toSeq
    assert(run() === run())
  }
}
