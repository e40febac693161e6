package graft

import org.apache.spark.sql.functions._

import graft.vector.Ivf

/** The probe-ranking PREFIX property the IVF evaluation kernel and
  * SemDedup lean on: IvfTopCells.selectTop ranks cells by a fixed
  * total order (score desc, larger cell id on ties), so
  * `probeCells(v, n)` must equal the first n entries of
  * `probeCells(v, N)` for any n ≤ N. `Ivf.evalRanks` (q144, q150,
  * q216) tags each pair with its cell's position `cpos` in the widest
  * probe list, so the width-n candidate set is exactly the rows with
  * cpos < n; ranked in one window by (cosine desc, neighbor_id), the
  * running count of those rows is the rank a width-n search gives.
  * SemDedup.keep reads the argmax cell as probe rank 0 of its
  * multi-probe frame. Both are only correct if this property holds
  * for every vector — pinned here over the whole sf0.001 embedding
  * corpus, not a sample. */
class IvfProbePrefixSpec extends SparkSuite {
  import spark.implicits._

  test("probeCells(v, n) is a prefix of probeCells(v, N) and " +
      "rank 0 is the argmax cell") {
    val emb = Tables.table(spark, sf0001, "embeddings")
    val model = Ivf.fit(emb, "vec_id", "embedding", cells = 16, iters = 1)
    val probes = emb.select(
      $"vec_id",
      Ivf.probeCells($"embedding", model, 8).as("p8"),
      Ivf.probeCells($"embedding", model, 4).as("p4"),
      Ivf.probeCells($"embedding", model, 2).as("p2"),
      Ivf.probeCells($"embedding", model, 1).as("p1"),
      Ivf.cellColumn($"embedding", model).as("argmax"))
    val violations = probes.filter(
      !(expr("slice(p8, 1, 4)") === $"p4") ||
        !(expr("slice(p8, 1, 2)") === $"p2") ||
        !(expr("slice(p8, 1, 1)") === $"p1") ||
        element_at($"p8", 1) =!= $"argmax").count()
    assert(violations === 0L,
      "probe ranking is not prefix-stable — the IVF evaluation " +
        "kernel's per-width ranks and SemDedup's rank-0 manifest " +
        "would be wrong")
  }
}
