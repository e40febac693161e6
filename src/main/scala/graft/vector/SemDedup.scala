package graft.vector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import VectorFunctions.dotExact

/** SemDeDup — semantic deduplication by clustered embedding
  * similarity (Abbas et al. 2023, arXiv:2303.09540): k-means the
  * corpus embeddings, compare pairs only WITHIN a shared cell, and
  * keep one representative per near-duplicate relation. The
  * shared-cell restriction is what makes the op scale: the all-pairs
  * O(n²) cosine join (q32's exactness baseline) becomes an equi-join
  * on cell id — Σ |cell|² work, never n².
  *
  * Assignment is multi-probe ([[Ivf.assignMulti]]): each vector lands
  * in its `probes` best cells, so a pair straddling a cell boundary
  * is still caught when ANY cell is shared. Occupancy grows ×probes
  * (pair work ×~probes²/cells at uniform occupancy) — the standard
  * recall/cost dial; recall vs the exact pair set is measured in
  * SemDedupSpec.
  *
  * Representative choice: the LOWEST id in a duplicate relation wins
  * (a vector is dropped iff a lower-id near-dup shares a cell with
  * it). The paper picks by centroid distance; min-id is
  * deterministic, engine-reproducible, and keeps exactly one member
  * per connected dup chain — the property downstream mixture building
  * needs.
  *
  * At 100 TB: clustering is the IVF index build (assign once, persist
  * partitioned by cell — Ivf.writeIndex); each cell's pair join then
  * runs over bounded inverted lists.
  */
object SemDedup {

  private def pairs(assigned: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    val a = assigned.select(col("cell"), col(idCol).as("id_a"),
      col("c_vec").as("v_a"), col("c_norm").as("norm_a"))
    val b = assigned.select(col("cell"), col(idCol).as("id_b"),
      col("c_vec").as("v_b"), col("c_norm").as("norm_b"))
    a.join(b, "cell")
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", dotExact(col("v_a"), col("v_b")) /
        (col("norm_a") * col("norm_b")))
      .filter(col("cosine") >= threshold)
      // a pair sharing several probed cells appears once per shared
      // cell; the cosine is bit-identical in each copy
      .select(col("id_a"), col("id_b"), col("cosine"))
      .distinct()
  }

  /** Kept manifest: (idCol, primary cell) for every vector that
    * survives; a null vector survives with a null cell. One fit, one
    * assignment scan, one equi-join on cell, one anti-join. */
  def keep(df: DataFrame, idCol: String, vecCol: String, cells: Int,
      threshold: Double, probes: Int = 2): DataFrame = {
    val model = Ivf.fit(df, idCol, vecCol, cells, iters = 1)
    // ONE assignment scan serves both the pair join and the final
    // manifest (r16): the multi-probe explode carries its probe rank,
    // and rank 0 IS the argmax cell (IvfTopCells.selectTop is a fixed
    // total order, so topCells(probes)[0] ≡ assignCell) — the old
    // second Ivf.assign pass re-ran the cells×dims argmax over the
    // whole corpus just to recover a column this frame already had.
    val assigned = df.select(col(idCol), col(vecCol).as("c_vec"),
        sqrt(dotExact(col(vecCol), col(vecCol))).as("c_norm"),
        // _outer: a null vector has no cells but stays in the manifest
        // (one row, null cpos and cell) — it can pair with nothing, so
        // it is never dropped, and never silently lost either
        posexplode_outer(Ivf.probeCells(col(vecCol), model, probes))
          .as(Seq("cpos", "cell")))
      .localCheckpoint()
    val dropped = pairs(assigned, idCol, threshold)
      .select(col("id_b").as(idCol)).distinct()
    assigned.filter(col("cpos") === 0 || col("cpos").isNull)
      .join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("cell"))
  }

  /** The shared-cell near-dup PAIRS (for recall measurement against
    * the exact all-pairs set). */
  def withinCellPairs(df: DataFrame, idCol: String, vecCol: String,
      cells: Int, threshold: Double, probes: Int = 2): DataFrame = {
    val model = Ivf.fit(df, idCol, vecCol, cells, iters = 1)
    val assigned = Ivf.assignMulti(df, model, probes,
      corpusId = idCol, vecCol = vecCol).localCheckpoint()
    pairs(assigned, idCol, threshold)
  }
}
