package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import VectorFunctions.dotExact

/** IVF (inverted-file) approximate nearest neighbour: k-means cells
  * over the corpus, queries probe the `nprobe` nearest cells, exact
  * cosine on the candidates only.
  *
  * Training is a standard driver-side model fit: centroids are a
  * bounded artifact (cells × dims doubles ≈ KBs) collected like any
  * ML model and re-embedded as literals (an implicit broadcast).
  * Assignment and search are pure scan + codegen dot products; the
  * only shuffle in search is the equi-join on cell id. Cell means are
  * computed with DECIMAL sums so training is bit-deterministic
  * regardless of partitioning (stable recall across runs/clusters).
  *
  * At 100 TB: the corpus is assigned once and written bucketed by
  * cell; a query stream touches nprobe/cells of the data. This is the
  * partition-pruning analogue for vector search.
  */
object Ivf {

  final case class Model(centroids: IndexedSeq[Array[Double]]) {
    def numCells: Int = centroids.length
  }

  /** The nprobe best cells for a vector (score desc, larger cell id
    * on ties), via the graft_ivf_top_cells codegen expression — the
    * centroid matrix ships as one reference object, so the generated
    * source stays O(1) in the cell count (a composed array_max over
    * per-cell structs took seconds of janino compile at 16×64 and
    * grows with cells). */
  private def topCells(vec: Column, m: Model, nprobe: Int): Column =
    call_function("graft_ivf_top_cells", vec,
      typedlit(m.centroids.map(_.toSeq).toSeq), lit(nprobe))

  /** Argmax cell (deterministic tie toward the larger cell id). */
  private def assignCell(vec: Column, m: Model): Column =
    element_at(topCells(vec, m, 1), 1)

  /** The argmax cell as a bare column — for callers that fold an
    * assignment into an existing scan (q145 computes a vector's cell
    * under TWO models in one projection; a join of two [[assign]]
    * outputs would shuffle the corpus on id twice for the same
    * answer). */
  def cellColumn(vec: Column, m: Model): Column = assignCell(vec, m)

  /** The nprobe best cells for a query vector, as an array — public
    * for callers composing their OWN candidate join (filtered ANN
    * joins on (cell, filter-key) instead of cell alone, q312). */
  def probeCells(vec: Column, m: Model, nprobe: Int): Column =
    topCells(vec, m, nprobe)

  /** Lloyd iterations with deterministic init (first `cells` vectors
    * by id) and exact mean updates. Vectors may be array<float> or
    * array<double> (a projected corpus — q137's cross-modal space).
    *
    * `dyadicMeans` switches the mean accumulation from a
    * DECIMAL(30,15) cast of the element to floor(v·2⁴⁰) fixed-point
    * integer sums (the q133 pattern). For float inputs the decimal
    * cast is the established cross-engine-replayable form; for
    * ARBITRARY doubles it is NOT portable (Spark rounds the exact
    * binary expansion, DuckDB scales in double first — last-ulp
    * drift), so double-vector callers that oracle-replay the fit
    * must pass dyadicMeans = true. */
  def fit(corpus: DataFrame, idCol: String, vecCol: String,
      cells: Int, iters: Int = 2, dyadicMeans: Boolean = false): Model = {
    // null vectors (no cell — SemDedup keeps them cell-less) never seed
    // a centroid; they add nothing to the means either
    var cents: IndexedSeq[Array[Double]] = corpus
      .filter(col(vecCol).isNotNull)
      .orderBy(col(idCol)).limit(cells)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Number](0).map(_.doubleValue).toArray).toIndexedSeq
    require(cents.nonEmpty, "IVF fit needs a non-empty corpus")
    // dims from the init vectors — saves a separate head() job
    val dims = cents.head.length
    val sc40 = (1L << 40).toDouble
    for (_ <- 0 until iters) {
      val assigned = corpus.select(
        assignCell(col(vecCol), Model(cents)).as("cell"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      val meanCol =
        if (dyadicMeans)
          (sum(floor(col("v").cast("double") * lit(sc40))
              .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast("double") / lit(sc40) / count(lit(1))).as("mean")
        else
          (sum(col("v").cast("decimal(30,15)")).cast("double") /
            count(lit(1))).as("mean")
      val means = assigned.groupBy(col("cell"), col("pos"))
        .agg(meanCol)
        .collect()
      val next = Array.fill(cells)(new Array[Double](dims))
      val seen = Array.fill(cells)(false)
      means.foreach { r =>
        val c = r.getInt(0); seen(c) = true
        next(c)(r.getInt(1)) = r.getDouble(2)
      }
      // empty cells keep their previous centroid
      cents = IndexedSeq.tabulate(cells)(c => if (seen(c)) next(c) else cents(c))
    }
    Model(cents)
  }

  /** Corpus cell assignment + norm, the index-build step: compute it
    * ONCE per model and reuse across every search (at 100 TB: write
    * this out bucketed/partitioned by `cell` so a query stream reads
    * only nprobe/cells of the data — the partition-pruning analogue
    * for vectors). Output columns: corpusId, c_vec, c_norm, cell. */
  def assign(corpus: DataFrame, m: Model,
      corpusId: String = "neighbor_id", vecCol: String = "embedding"):
      DataFrame =
    corpus.select(
      col(corpusId), col(vecCol).as("c_vec"),
      sqrt(dotExact(col(vecCol), col(vecCol))).as("c_norm"),
      assignCell(col(vecCol), m).as("cell"))

  /** Multi-probe assignment: each vector lands in its `probes` best
    * cells (one exploded row per cell). Candidate generation over a
    * shared-cell equi-join then catches boundary pairs a single-cell
    * assignment splits — occupancy grows ×probes, pair work stays
    * Σ|cell|², never n². */
  def assignMulti(corpus: DataFrame, m: Model, probes: Int,
      corpusId: String = "neighbor_id", vecCol: String = "embedding"):
      DataFrame =
    corpus.select(
      col(corpusId), col(vecCol).as("c_vec"),
      sqrt(dotExact(col(vecCol), col(vecCol))).as("c_norm"),
      explode(probeCells(col(vecCol), m, probes)).as("cell"))

  /** ANN search over a pre-assigned corpus (see [[assign]]): probe
    * nprobe cells per query, exact cosine over candidates, per-query
    * top-k. The only shuffle is the equi-join on cell id. */
  def searchAssigned(queries: DataFrame, assigned: DataFrame, m: Model,
      k: Int, nprobe: Int, queryId: String = "query_id",
      corpusId: String = "neighbor_id", vecCol: String = "embedding",
      excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(
      col(queryId), col(vecCol).as("q_vec"),
      sqrt(dotExact(col(vecCol), col(vecCol))).as("q_norm"),
      explode(probeCells(col(vecCol), m, nprobe)).as("cell"))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("cosine").desc, col(corpusId))
    q.join(assigned, "cell")
      // excludeSelf drops the query's own row for same-id-space
      // self-search; cross-modal callers (query ids and corpus ids
      // from DIFFERENT id spaces — q137) must keep equal-id pairs
      .filter(if (excludeSelf) col(queryId) =!= col(corpusId) else lit(true))
      .withColumn("cosine",
        dotExact(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryId), col("rank"), col(corpusId), col("cosine"))
  }

  /** IVF evaluation kernel: the exact ranking and the ranking of every
    * probe width in `widths`, from ONE scoring pass and one window.
    *
    * `queries` carries `query_id` and `embedding`; `assigned` is
    * [[assign]]'s output over `neighbor_id`.
    *
    * Every (query, corpus) pair is scored once, the query side
    * broadcast against the assigned corpus, and
    * tagged with `cpos`: the position of its corpus cell in the
    * query's `probeCells(q, widths.max)`, null when the cell is not
    * among them or either vector is null. One window per query, in
    * the (cosine desc, corpus id) order every top-k here uses, then
    * counts ranks as running totals:
    *  - `exact_rank`: the running count of non-self rows — the rank
    *    [[VectorFunctions.knnBruteForce]] gives the row;
    *  - `rank_<w>`: the running count of non-self rows with cpos < w.
    *    probeCells(q, w) is the first w entries of
    *    probeCells(q, widths.max) (IvfProbePrefixSpec), so cpos < w is
    *    exactly the candidate set of [[searchAssigned]] at nprobe = w,
    *    and over a total order the running count of a set's members is
    *    the row_number that set's own window gives them.
    * A rank is null on rows outside its set (self rows; cpos ≥ w).
    * Self rows stay in the output with their `cpos`, so a candidate
    * count over `cpos < w` counts them as a cell's size does.
    * `n_corpus` is the number of corpus rows the query was scored
    * against.
    *
    * Cost: |queries| × |corpus| dot products and one exchange on the
    * query id. It fits bounded eval sets (the registry's 20 queries),
    * where the exact truth needs every pair anyway. */
  def evalRanks(queries: DataFrame, assigned: DataFrame, m: Model,
      widths: Seq[Int]): DataFrame = {
    val q = queries.select(
      col("query_id"), col("embedding").as("q_vec"),
      sqrt(dotExact(col("embedding"), col("embedding"))).as("q_norm"),
      probeCells(col("embedding"), m, widths.max).as("probes"))
    val pos = array_position(col("probes"), col("cell"))
    val order = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val upTo = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def rank(member: Column): Column =
      when(member, count(when(member, 1)).over(upTo).cast("int"))
    val other = col("query_id") =!= col("neighbor_id")
    assigned.crossJoin(broadcast(q))
      .select(col("query_id"), col("neighbor_id"),
        when(pos > 0, (pos - 1).cast("int")).as("cpos"),
        (dotExact(col("q_vec"), col("c_vec")) /
          (col("q_norm") * col("c_norm"))).as("cosine"))
      .select(Seq(col("query_id"), col("neighbor_id"), col("cosine"),
        col("cpos"),
        // whole-partition count under the ranks' own partition and
        // order, so Spark computes it in the same window operator
        count(lit(1)).over(order.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)).as("n_corpus"),
        rank(other).as("exact_rank")) ++
        widths.map(w => rank(other && col("cpos") < w).as(s"rank_$w")): _*)
  }

  /** One-shot search for callers without a cached assignment. */
  def search(queries: DataFrame, corpus: DataFrame, m: Model, k: Int,
      nprobe: Int, queryId: String = "query_id",
      corpusId: String = "neighbor_id", vecCol: String = "embedding"):
      DataFrame =
    searchAssigned(queries, assign(corpus, m, corpusId, vecCol), m, k,
      nprobe, queryId, corpusId, vecCol)

  /** Persist an assignment as the at-rest index: parquet partitioned
    * by cell, so `cell=<i>/` directories ARE the inverted lists. A
    * probe with a cell predicate then partition-prunes at the file
    * listing — the reader never opens the other cells' files. This is
    * the 100 TB layout: a query stream reads nprobe/cells of the
    * corpus bytes. */
  def writeIndex(assigned: DataFrame, path: String): Unit =
    assigned.write.partitionBy("cell").mode("overwrite").parquet(path)

  /** Reopen a persisted index for [[searchAssigned]]. The returned
    * frame's `cell` is a partition column: the searchAssigned
    * equi-join on cell prunes directories via dynamic partition
    * pruning, or statically when probing an explicit cell list. */
  def openIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(path)
}
