package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.operators.{AsOfJoin, GlobalIndex, RangeJoin}
import graft.text.TextFunctions

/** Queries exercising the composed custom operators (as-of join,
  * pivot) with DuckDB oracles.
  */
object OperatorQueries {
  import Q._

  val queries: Map[String, Fn] = Map(
    // As-of join: attach to every purchase event the user's latest
    // view event at or before it (session attribution). The right
    // side is pre-deduped to one row per (user, ts) so the match is
    // unambiguous on both engines.
    "q36_asof_join" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.table(s, dir, "events")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts", $"value")
      val views = ev.filter($"event_type" === "view")
        .groupBy($"user_id", $"ts")
        .agg(max($"event_id").as("view_event_id"))
      AsOfJoin.asOf(purchases, views, Seq("user_id"),
        leftTs = "ts", rightTs = "ts", rightPayload = Seq("view_event_id"))
        .select($"event_id", $"user_id", $"ts", $"value",
          $"__match.ts".as("view_ts"),
          $"__match.view_event_id".as("view_event_id"))
        .orderBy($"event_id")
    }),

    // The same as-of semantics through the custom PHYSICAL operator
    // (AsOfJoinNode → AsOfStrategy → sort-merge AsOfJoinExec): one
    // streaming merge over co-partitioned (key, ts)-sorted children,
    // no union/window pass. Verified against the identical DuckDB
    // ASOF-join oracle as q36.
    "q60_asof_join_exec" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.table(s, dir, "events")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts", $"value")
      val views = ev.filter($"event_type" === "view")
        .groupBy($"user_id", $"ts")
        .agg(max($"event_id").as("view_event_id"))
      graft.plans.AsOfJoinPhysical.asOf(
        purchases, views, Seq("user_id"), leftTs = "ts", rightTs = "ts")
        .select($"event_id", $"user_id", $"ts", $"value",
          $"r_ts".as("view_ts"), $"r_view_event_id".as("view_event_id"))
        .orderBy($"event_id")
    }),

    // Bloom-prefiltered semi join (explicit runtime filter): lineitem
    // rows whose part is small (p_size <= 5) — the big side probes a
    // ~KB Bloom sketch of the qualifying part keys AT THE SCAN, so
    // only ~matching rows reach the exact closing semi join. Output
    // is exactly the plain semi join (false positives removed); the
    // oracle is the plain IN-subquery.
    "q81_bloom_semi_join" -> ((s, dir) => {
      import s.implicits._
      val li = Tables.table(s, dir, "lineitem")
      val smallParts = Tables.table(s, dir, "part").filter($"p_size" <= 5)
      graft.operators.BloomJoin.semiJoin(
        li, "l_partkey", smallParts, "p_partkey",
        expectedItems = 1L << 16, fpp = 0.01)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          dsum($"l_quantity").as("sum_qty"),
          dsum($"l_extendedprice").as("sum_price"))
        .orderBy($"l_returnflag")
    }),

    // Salted inner join under the oracle gate: the skew-mitigation
    // rendering (large side gets a random salt, small side explodes
    // onto all salts, equi-join on key+salt) must be bit-identical to
    // the plain join — verified by aggregating the joined rows
    // against the plain-SQL oracle. At 100 TB the salt splits a hot
    // key's rows over `salts` reducers instead of one straggler.
    "q87_salted_join_agg" -> ((s, dir) => {
      import s.implicits._
      val li = Tables.table(s, dir, "lineitem")
        .select($"l_orderkey", $"l_extendedprice", $"l_discount")
      val o = Tables.table(s, dir, "orders")
        .select($"o_orderkey".as("l_orderkey"), $"o_orderstatus")
      graft.operators.SaltedJoin.inner(li, o, Seq("l_orderkey"), salts = 8)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
            .as("revenue"))
        .orderBy($"o_orderstatus")
    }),

    // Z-order (Morton) clustering key: interleave the low 10 bits of
    // (customer bucket, day index) — the layout key writeZOrdered
    // clusters files by, so 2-D box predicates prune row groups.
    // Pure 64-bit shift/mask ops, recomputed bit-identically by the
    // DuckDB oracle.
    "q82_zorder_key" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.table(s, dir, "orders")
      val x = ($"o_custkey" % 1024).cast("long")
      val y = (datediff($"o_orderdate".cast("date"),
        lit("1970-01-01").cast("date")) % 1024).cast("long")
      o.select($"o_orderkey", x.as("x"), y.as("y"),
          graft.store.Layout.zValue(x, y, 10).as("z"))
        .orderBy($"o_orderkey")
    }),

    // Banded time-range join: for each purchase, count and value-sum
    // of the same user's events strictly within the preceding hour —
    // the equi-join-on-(key, band) rendering of an interval predicate
    // Spark would otherwise plan as a nested loop.
    "q56_range_join_prior_activity" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.table(s, dir, "events")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts")
      val prior = RangeJoin.timeRange(
        purchases, ev.select($"user_id", $"ts", $"value"),
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        before = 3600L, after = 0L)
        .filter($"r_ts" < $"ts") // strictly before (drops self-match)
        .groupBy($"event_id")
        .agg(count(lit(1)).as("n_prior"),
          dsum($"value").as("prior_value"))
      purchases.join(prior, Seq("event_id"), "left")
        .select($"event_id", $"user_id",
          coalesce($"n_prior", lit(0L)).as("n_prior"),
          coalesce($"prior_value", lit(0.0)).as("prior_value"))
        .orderBy($"event_id")
    }),

    // Gap-sessionization through the skew-resilient chunked operator:
    // events shuffle on (user, 6 h time-chunk) instead of user alone,
    // so a hot key's history splits across timespan/chunk tasks; the
    // cross-chunk stitch is exact (SessionizeChunkedSpec proves
    // equality with the plain window form for arbitrary chunk
    // lengths). Same oracle as q23.
    "q63_sessionize_chunked" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Sessionize.chunked(
        Tables.table(s, dir, "events")
          .select($"user_id", $"event_id", $"ts", $"value"),
        "user_id", "ts", "event_id", "value",
        gapMicros = 1800000000L, chunkMicros = 6L * 3600L * 1000000L)
        .orderBy($"user_id", $"session_seq")
    }),

    // Numbered shard manifest: contiguous global sequence numbers in
    // deterministic-shuffle training order via GlobalIndex (range
    // exchange + per-partition offset map — NOT the single-partition
    // window `row_number() OVER (ORDER BY …)` plans as), then
    // fixed-size shards by integer division. Contiguity, not mere
    // orderedness (q65), is the contract: every shard but the last
    // has exactly 64 docs regardless of partition count.
    "q93_shard_manifest" -> ((s, dir) => {
      import s.implicits._
      val keyed = Tables.table(s, dir, "documents")
        .select($"doc_id",
          graft.text.TextFunctions.hash60(
            concat($"doc_id".cast("string"), lit("_shuffle")))
            .as("shuffle_key"))
      GlobalIndex.withGlobalSeq(keyed, Seq(col("shuffle_key"), col("doc_id")))
        .select($"doc_id", $"shuffle_key", $"global_seq",
          expr("CAST((global_seq - 1) DIV 64 AS BIGINT)").as("shard"))
        .orderBy($"global_seq")
    }),

    // Incremental aggregate maintenance as a VERIFIED query: the gold
    // per-customer order aggregate built by folding ONE YEAR of orders
    // at a time through IncrementalAgg.aggregate + merge — the
    // medallion refresh path, where each merge shuffles aggregated
    // rows only (|keys| + |increment keys|), never raw fact history —
    // then compared against the full-rescan DuckDB oracle. Sums fold
    // in DECIMAL so the state is batching- and order-independent
    // (merge(agg(y1), agg(y2)) ≡ agg(y1 ∪ y2) bit-for-bit); the cast
    // to double happens once, at read time.
    "q95_incremental_agg" -> ((s, dir) => {
      import s.implicits._
      import graft.store.IncrementalAgg
      val spec = IncrementalAgg.Spec(Seq("o_custkey"), sums = Seq("price"),
        mins = Seq("o_orderdate"), maxs = Seq("o_orderdate"))
      val orders = Tables.table(s, dir, "orders")
        .select($"o_custkey", $"o_orderdate",
          $"o_totalprice".cast("decimal(28,8)").as("price"))
      // bounded collect: distinct order YEARS (calendar-bounded model
      // metadata, the IVF-centroid class — never row data)
      val yrs = orders.select(year($"o_orderdate").as("y")).distinct()
        .orderBy($"y").collect().map(_.getInt(0))
      val state = yrs.tail.foldLeft(IncrementalAgg.aggregate(
          orders.filter(year($"o_orderdate") === yrs.head), spec)) {
        (st, yy) => IncrementalAgg.merge(st,
          IncrementalAgg.aggregate(
            orders.filter(year($"o_orderdate") === yy), spec), spec)
      }
      state.select($"o_custkey", $"n_rows",
          $"sum_price".cast("double").as("total_price"),
          $"min_o_orderdate".as("first_order"),
          $"max_o_orderdate".as("last_order"))
        .orderBy($"o_custkey")
    }),

    // Iterative graph operator: 3-iteration PageRank over the
    // bipartite customer↔supplier purchase graph (both directions, so
    // the walk alternates sides). Its ~16k-node rank vector fits the
    // broadcast budget, so each iteration is one shuffle-free job over
    // the cached edge arrays (operators.PageRank). Deterministic across
    // engines because divisions happen in double (IEEE
    // correctly-rounded) and cross-edge sums in decimal (exact);
    // the oracle replays all three iterations as chained CTEs.
    "q100_pagerank" -> ((s, dir) => {
      import s.implicits._
      // Deliberately INLINE, not the GraphFixtures staging: the pair
      // build is a broadcast join over two pruned scans (near-free),
      // and PageRank measured ~2× slower consuming staged-parquet
      // edges than join-derived ones at sf0.1 (A/B'd on identical
      // pre-checkpointed inputs — block-layout sensitivity of the
      // iteration jobs, not the build cost). Staging only pays where
      // the shared frame is EXPENSIVE to derive (the part co-purchase
      // explosion) or consumed many times (psym).
      val li = Tables.table(s, dir, "lineitem")
        .select($"l_orderkey", $"l_suppkey")
      val ords = Tables.table(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey")
      val pairs = li.join(ords, $"l_orderkey" === $"o_orderkey")
        // supplier ids share the customer id space: offset them
        .select($"o_custkey".as("cust"),
          ($"l_suppkey" + 1000000L).as("supp"))
      val edges = pairs.select($"cust".as("src"), $"supp".as("dst"))
        .union(pairs.select($"supp".as("src"), $"cust".as("dst")))
      graft.operators.PageRank.run(edges, "src", "dst", iters = 3)
        .orderBy($"node")
    }),

    // Pivot: per-day event counts spread into one column per type —
    // plans as a single hash aggregate with conditional counters, the
    // same shape as the oracle's FILTER aggregation.
    "q37_pivot_event_counts" -> ((s, dir) => {
      import s.implicits._
      val types = Seq("click", "error", "purchase", "signup", "view")
      val pivoted = Tables.table(s, dir, "events")
        .withColumn("day", $"ts".cast("date"))
        .groupBy($"day")
        .pivot("event_type", types)
        .agg(count(lit(1)))
      pivoted
        .select(($"day" +: types.map(t => coalesce(col(t), lit(0L)).as(t))): _*)
        .orderBy($"day")
    }),

    // SCD type-2 dimension build from the events change log: the
    // versioned "what was this user's latest activity type at time
    // T?" history — per-user windows only (one shuffle on the key,
    // no global window), consecutive identical attributes collapsed.
    // Integrates store.Scd2 into the driver gate; the incremental
    // fold path is pinned equal to this rebuild by Scd2Spec.
    "q105_scd2_history" -> ((s, dir) => {
      import s.implicits._
      graft.store.Scd2.fromChangeLog(
        Tables.table(s, dir, "events")
          .select($"user_id", $"ts", $"event_type", $"event_id"),
        keys = Seq("user_id"), ts = "ts", attr = "event_type",
        tieBreak = "event_id")
        .orderBy($"user_id", $"valid_from")
    }),

    // Triangle counting over the part co-purchase graph (parts
    // appearing in the same order), degree-oriented: every edge
    // points from its lower-(degree, id) endpoint to the higher one,
    // so wedges are enumerated only at each triangle's LOWEST-degree
    // vertex — out-degrees are O(√E)-bounded and the wedge join never
    // explodes on hub nodes (the id-oriented form took 26 s at sf0.1;
    // this is the node-iterator++ algorithm, Schank & Wagner 2005).
    // Orientation is a total order, so the count is exact and the
    // oracle replays it; per-node participation via explode+aggregate.
    "q107_triangle_count" -> ((s, dir) => triangleCount(s, dir)),

    // q107's documented SUB-LINEAR scale path — Doulion edge sampling
    // (Tsourakakis et al., KDD'09): keep each undirected edge
    // independently with p = 1/8, decided by the PORTABLE salted hash
    // (deterministic, so the DuckDB oracle replays the exact same
    // sample — the q157/q187 sketch discipline applied to a graph
    // estimator), count triangles exactly among kept edges with the
    // same degree-oriented wedge machinery, scale by p⁻³ = 512. The
    // sample is applied BEFORE the edge-dedup exchange, so the
    // dominant costs shrink with p (dedup shuffle ×p, wedge volume
    // ×p² in expectation) — exact triangle work grows superlinearly
    // with density by nature (q107's ×10 surrogate hit 183 s); this
    // is the knob a 100 TB graph actually turns. Exact companion +
    // signed error ride in-row, audit-gated like every sketch twin.
    "q224_triangle_doulion" -> ((s, dir) => {
      import s.implicits._
      val audit = s.conf.get("spark.graft.sketchAudit", "true").toBoolean
      val d = 8L
      val (eKept, triS) = triangleTotal(s, dir, Some(d))
      val est = triS * d * d * d
      if (!audit)
        Seq((eKept, triS, est))
          .toDF("n_edges_sampled", "n_tri_sampled", "n_est")
      else {
        val (_, exact) = triangleTotal(s, dir, None)
        Seq((eKept, triS, est, exact, est - exact))
          .toDF("n_edges_sampled", "n_tri_sampled", "n_est",
            "n_exact", "err")
      }
    }),

    // q100's documented SUB-LINEAR scale path — Doulion-style
    // deterministic edge sampling applied to the ITERATIVE operator
    // class: keep each (cust, supp) purchase pair with p = 1/4,
    // decided by the portable salted hash of the UNDIRECTED pair (so
    // both walk directions agree and the DuckDB oracle replays the
    // identical sample), then run the same 3-iteration PageRank on
    // the kept edges. Every per-iteration cost (routing each kept
    // edge's contribution) shrinks with p — the knob a
    // 100 TB web-graph run actually turns; sampled PageRank preserves
    // the rank ORDERING of well-connected nodes (what consumers rank
    // by), and the top-20 is the consumer view. Exact companion +
    // signed per-node error ride in-row, audit-gated like every
    // sketch twin (bench times the sampled leg alone).
    "q308_pagerank_doulion" -> ((s, dir) => {
      import s.implicits._
      val audit = s.conf.get("spark.graft.sketchAudit", "true").toBoolean
      // inline for the same reason as q100 (see there): the pair
      // build is a near-free broadcast join, and the iterative
      // consumer is layout-sensitive to staged reads
      val li = Tables.table(s, dir, "lineitem")
        .select($"l_orderkey", $"l_suppkey")
      val ords = Tables.table(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey")
      val pairs = li.join(ords, $"l_orderkey" === $"o_orderkey")
        .select($"o_custkey".as("cust"),
          ($"l_suppkey" + 1000000L).as("supp"))
      val kept = pairs.filter(TextFunctions.hash60(
        concat($"cust".cast("string"), lit("_"),
          $"supp".cast("string"), lit("_prsample"))) <
        lit((1L << 60) / 4L))
      def edges(p: org.apache.spark.sql.DataFrame) =
        p.select($"cust".as("src"), $"supp".as("dst"))
          .union(p.select($"supp".as("src"), $"cust".as("dst")))
      val top = graft.operators.PageRank.run(edges(kept), "src", "dst",
          iters = 3)
        .select($"node", $"rank".as("rank_s"))
        .orderBy($"rank_s".desc, $"node").limit(20)
      if (!audit) top
      else top.join(graft.operators.PageRank.run(edges(pairs), "src",
          "dst", iters = 3)
          .select($"node", $"rank".as("rank_exact")), "node")
        .select($"node", $"rank_s", $"rank_exact",
          ($"rank_s" - $"rank_exact").as("err"))
        .orderBy($"rank_s".desc, $"node")
    }),

    // EXECUTED salted join — the skew-mitigation q283 only ADVISES:
    // the fact side tags each row with a deterministic salt in
    // [0, S), the dim side replicates ×S (one bounded explode of the
    // SMALL side), and the join key widens to (key, salt) — a hot key
    // whose rows all landed in one reduce task now spreads over S
    // tasks, at the price of an S× copy of the dim (bounded by
    // construction). Algebra: salt-join ≡ join, because every fact
    // row matches exactly the one dim replica carrying its salt —
    // THAT identity is what the hash gate proves (the oracle runs the
    // unsalted join). shuffle_hash hint on the replicated dim keeps
    // the demo on the exchange path the technique exists for (at this
    // SF Catalyst would broadcast the dim and salting would be moot;
    // at 100 TB a fact×fact join can't broadcast and this is the
    // knob — AQE's skew-join split covers sort-merge, salting covers
    // hash-partitioned aggregates and storage-partitioned layouts AQE
    // can't re-split).
    "q329_salted_join" -> ((s, dir) => {
      import s.implicits._
      val saltN = 8
      val fact = Tables.table(s, dir, "lineitem")
        .select($"l_suppkey",
          ($"l_extendedprice" * (lit(1.0) - $"l_discount"))
            .as("rev"),
          pmod($"l_orderkey" * 7 + $"l_linenumber", lit(saltN))
            .cast("int").as("salt"))
      val dim = Tables.table(s, dir, "supplier")
        .select($"s_suppkey", $"s_nationkey")
        .withColumn("salt", explode(lit((0 until saltN).toArray)))
      fact.join(dim.hint("shuffle_hash"),
          $"l_suppkey" === $"s_suppkey" && fact("salt") === dim("salt"))
        .groupBy($"s_nationkey")
        .agg(count(lit(1)).as("n_items"), Q.dsum($"rev").as("revenue"))
        .orderBy($"s_nationkey")
    }),

    // RECURSIVE CTE — Spark 4's WITH RECURSIVE (UnionLoop) surface,
    // exercised on a hop-capped reachability census over the part
    // co-purchase graph. ONE SQL text runs verbatim on BOTH engines
    // (the strongest possible oracle: zero re-rendering), so this
    // gates Spark's recursion semantics — UNION ALL level expansion,
    // the hop-cap termination, aggregation over the accumulated
    // working table — against DuckDB's, not just the arithmetic.
    // Different graph, cap and frontier semantics from q266 (which
    // pins the DataFrame superstep loop; this pins the declarative
    // SQL recursion the engine now plans itself). Scale shape: each
    // level is one equi-join of the level's rows to the edge list;
    // basket-bounded degree keeps the UNION ALL expansion O(deg²)
    // per source at any SF (see reachEdgesSql). The edge CTE is
    // STAGED (localCheckpoint + view) before the recursion: Spark's
    // UnionLoop re-plans a non-materialized CTE at every level, so
    // the inline form rebuilt the pair explosion once per hop — the
    // r12 one-JVM A/B measured 3.8 s inline vs 1.75 s staged at
    // sf0.1. DuckDB materializes the multiply-referenced CTE once on
    // its own, so staging makes Spark's execution match the shape
    // the oracle's single statement already has; the RECURSIVE text
    // itself stays verbatim-identical on both engines.
    "q311_recursive_reachability" -> ((s, dir) => {
      Tables.table(s, dir, "lineitem")
        .createOrReplaceTempView("li_q311")
      val e = s.sql(reachEdgesSql("li_q311")).localCheckpoint()
      e.createOrReplaceTempView("e_q311")
      s.sql(reachRecursiveSql("e_q311"))
    }),

    // Connected components via ALTERNATING STAR CONTRACTION (Kiveris
    // et al., "Connected Components in MapReduce and Beyond") — the
    // O(log n)-round algorithm the dedup clustering documents as its
    // adversarial-diameter fallback, finally driver-GATED rather than
    // only spec-pinned: min-label propagation (q75's engine) needs
    // O(diameter) rounds, star contraction O(log n) regardless, the
    // difference between 3 rounds and thousands on a long-path
    // component. Runs on a deterministic 1/64 salted-hash thinning of
    // the part co-purchase graph (sparse ⇒ a real multi-component
    // census; the hash replays in DuckDB, whose oracle closes the
    // same components with a recursive min-label closure). Output:
    // component-size census — size, how many components, min root id.
    "q313_components_alternating" -> ((s, dir) => {
      import s.implicits._
      // shared raw-pair fixture (q107's generator, staged once per
      // JVM); keys cast back to long so the census schema is
      // BIGINT regardless of the fixture's int narrowing. The hash
      // thinning applies BEFORE the dedup exchange so the distinct
      // moves 1/64 of the pairs.
      val pairs = GraphFixtures.partPairs(s, dir)
        .select($"x".cast("long").as("x"), $"y".cast("long").as("y"))
        .filter(TextFunctions.hash60(concat($"x".cast("string"),
          lit("_"), $"y".cast("string"), lit("_cc"))) <
          lit((1L << 60) / 64L))
        .distinct()
      // FIXED 6 contraction rounds (the q226 discipline): star
      // contraction is O(log n) rounds by theorem, measured fixpoint
      // at round 5 on sf0.01 AND sf0.1 — 6 gives one round of margin
      // and drops the per-round signature jobs + the extra detection
      // round the adaptive loop paid (~40% of q313's wall time was
      // detection overhead, not contraction). ConnectedComponentsSpec
      // pins fixed(6) ≡ fixpoint on the testdata, so convergence is
      // asserted, not assumed.
      val labeled = graft.dedup.ConnectedComponents
        .labelAlternating(pairs, "x", "y", rounds = 6)
      labeled.groupBy($"cluster_id").agg(count(lit(1)).as("sz"))
        .groupBy($"sz".as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          min($"cluster_id").as("min_root"))
        .orderBy($"cluster_size")
    }),

    // Single-source BFS hop census over the customer↔supplier
    // purchase graph — the shortest-path primitive the graph family
    // (q100 PageRank, q107 triangles, q226 k-core) lacked: hop
    // distance from the lowest customer id to every reachable node,
    // capped at 6 hops. Each round is one frontier⋈edges equijoin +
    // distinct + anti-join against the visited set — the Pregel
    // superstep shape, where at 100 TB both sides co-partition on the
    // node key and AQE broadcasts the frontier once it shrinks; the
    // visited set is localCheckpointed per round so no lineage blowup.
    // Fully deterministic (min-hop semantics), so the DuckDB oracle
    // replays it with a hop-capped WITH RECURSIVE + min-hop rollup.
    "q266_bfs_hops" -> ((s, dir) => {
      import s.implicits._
      val edges = purchaseEdges(s, dir)
        .localCheckpoint() // reused by all 6 supersteps
      var dist = edges.agg(min($"src").as("node"))
        .withColumn("hop", lit(0))
        .localCheckpoint()
      var frontier = dist
      // r15: the visited set is a LAZY union of the per-round
      // checkpointed frontiers — each round used to re-checkpoint the
      // whole accumulated dist (O(rounds²) block copies: round k
      // re-materialized every earlier frontier's rows), and probe the
      // loop condition with an extra limit(1) job. The frontier count
      // is a near-free job over just-checkpointed blocks and serves
      // as the loop condition; the anti-join still sees the exact
      // same visited rows (union of pinned frames, no recompute).
      // ProfileQ before/after: 58 jobs → 33, 5.4 s → 3.3 s at sf0.1.
      // r16: both per-superstep joins get broadcast hints under
      // MEASURED gates that are FREE — the frontier count is the loop
      // condition we already pay for, and the visited size is the
      // running sum of those counts. Checkpointed frames carry no
      // stats, so Catalyst planned frontier⋈edges as a full two-sided
      // exchange+sort of the EDGE list per superstep and the
      // anti-join as a second exchange of the candidates+visited;
      // broadcasting the frontier (left) and the visited set (right,
      // the anti-join's build side) leaves ONE exchange per superstep
      // (the candidate distinct). Past the gates (a 100 TB frontier)
      // both joins shuffle exactly as before — min-hop BFS rows are
      // identical on either path. ProfileQ 51 → 33 jobs at sf0.1.
      var frontierRows = 1L // dist is the 1-row source seed
      var visitedRows = 1L
      def gate(d: org.apache.spark.sql.DataFrame, n: Long) =
        if (n <= 2000000L) broadcast(d) else d
      for (h <- 1 to 6 if frontierRows > 0) {
        val nxt = gate(frontier, frontierRows)
          .join(edges, $"node" === $"src")
          .select($"dst".as("node")).distinct()
          .join(gate(dist, visitedRows), Seq("node"), "left_anti")
          .withColumn("hop", lit(h))
          .localCheckpoint()
        frontierRows = nxt.count()
        visitedRows += frontierRows
        dist = dist.union(nxt)
        frontier = nxt
      }
      dist.groupBy($"hop")
        .agg(count(lit(1)).as("n_nodes"), min($"node").as("min_node"),
          max($"node").as("max_node"), sum($"node").as("sum_nodes"))
        .orderBy($"hop")
    }),

    // k-core decomposition (k=3) of the customer↔supplier purchase
    // graph — the iterative-peeling operator behind "dense core"
    // extraction (Batagelj & Zaveršnik 2003): drop every node with
    // degree < k, recompute, repeat. Each round is ONE partial-
    // aggregable degree count + two key-equijoins against the
    // surviving-node set (semi-join shape; AQE broadcasts it once
    // peeling shrinks it under the threshold) — never a global
    // structure. The round count is FIXED at 6 and unrolled
    // identically by the DuckDB oracle as chained CTEs, so the
    // result is bit-deterministic; KCoreSpec pins that 6 rounds
    // reach the fixpoint on the testdata (round 7 ≡ round 6) —
    // peeling converges in O(log) rounds on heavy-tailed degree
    // distributions, and at 100 TB each extra round is one linear
    // pass, not a new algorithm.
    "q226_kcore" -> ((s, dir) => kcore(s, dir, k = 3, rounds = 6)),

    // Community detection by synchronous label propagation (Raghavan
    // et al. 2007) over the same purchase graph: each node adopts its
    // neighborhood's plurality label, ties broken by SMALLEST label
    // and each node voting once for its own current label (the self-
    // vote damps the 2-cycle oscillation synchronous LPA exhibits on
    // bipartite graphs) — every rule a deterministic expression, so
    // the 3 fixed rounds replay bit-exactly as the oracle's chained
    // window CTEs. Per round: one join shuffling |E| label votes, one
    // count aggregate, one per-node top-1 window (partitioned by
    // node — no global window). The label frame stays |V| rows every
    // round; nothing densifies with iteration count.
    "q227_label_prop" -> ((s, dir) => {
      import s.implicits._
      val e = purchaseEdges(s, dir).localCheckpoint() // loop invariant
      var lbl = e.select($"src".as("node")).distinct()
        .select($"node", $"node".as("lbl"))
        .localCheckpoint()
      // r15: the label vector is |V| rows (≪ |E|) — broadcast it into
      // the vote join under the same MEASURED size gate as the
      // triangle kernels (a checkpointed frame carries no stats, so
      // Catalyst would never broadcast it on its own and every round
      // paid a full two-sided exchange of the EDGE list). Past the
      // cutoff the join shuffles as before — same votes either way.
      val lblSmall = lbl.count() <= 2000000L
      def lblSide(d: org.apache.spark.sql.DataFrame) =
        if (lblSmall) broadcast(d) else d
      for (_ <- 1 to 3) {
        val votes = e.toDF("vnode", "dst")
          .join(lblSide(lbl.toDF("dst", "nl")), "dst")
          .select($"vnode".as("node"), $"nl".as("lbl"))
          .union(lbl) // self-vote
        val counted = votes.groupBy($"node", $"lbl")
          .agg(count(lit(1)).as("c"))
        // r15: the per-node top-1 by (c DESC, lbl ASC) is an ARGMAX —
        // max_by over the (c, -lbl) struct picks the same winner the
        // old row_number window did ((c, lbl) is unique per node, so
        // the winner is unique) with a partial-aggregable hash
        // aggregate instead of a per-round exchange + full sort of
        // the vote census; at 100 TB the map-side partial collapses
        // each node's census to one row before it ships.
        lbl = counted.groupBy($"node")
          .agg(max_by($"lbl", struct($"c", (-$"lbl").as("nl")))
            .as("lbl"))
          .localCheckpoint()
      }
      lbl.groupBy($"lbl").agg(count(lit(1)).as("n_members"),
          min($"node").as("min_node"))
        .orderBy($"n_members".desc, $"lbl")
    }),

    // Degree assortativity (Newman 2002): Pearson correlation of
    // endpoint degrees over every directed edge — do hubs attach to
    // hubs (r>0) or to leaves (r<0)? One degree aggregate + two
    // equi-joins of the degree table back onto the edge list, then
    // the q232 moment discipline: integer degrees, DECIMAL moment
    // sums (order-independent), one double closed form at the end —
    // bit-replayable in DuckDB with the identical expression tree.
    "q237_degree_assort" -> ((s, dir) => {
      import s.implicits._
      // staged fixture: single-pass consumer (measured 1.9 -> 1.4 s)
      val e = GraphFixtures.purchaseEdges(s, dir)
      val deg = e.groupBy($"src").agg(count(lit(1)).as("d"))
        .select($"src".as("node"), $"d")
      val pairs = e
        .join(deg.toDF("src", "dx"), "src")
        .join(deg.toDF("dst", "dy"), "dst")
        .select($"dx".cast("decimal(19,0)").as("x"),
          $"dy".cast("decimal(19,0)").as("y"))
      val m = pairs.agg(
        count(lit(1)).as("n_edges"),
        sum($"x").cast("double").as("sx"),
        sum($"y").cast("double").as("sy"),
        sum($"x" * $"y").cast("double").as("sxy"),
        sum($"x" * $"x").cast("double").as("sxx"),
        sum($"y" * $"y").cast("double").as("syy"))
      val nD = $"n_edges".cast("double")
      val r = (nD * $"sxy" - $"sx" * $"sy") /
        (sqrt(nD * $"sxx" - $"sx" * $"sx") *
          sqrt(nD * $"syy" - $"sy" * $"sy"))
      m.select($"n_edges", round(r, 6).as("r_assort"))
    }),

    // SQL-defined scalar UDF (Spark 4 CREATE FUNCTION ... RETURN):
    // the pure-SQL extensibility seam — the function body is a SQL
    // expression the analyzer INLINES into the calling plan, so it
    // optimizes and codegens exactly like writing the expression by
    // hand (no JVM round-trip, unlike a registered Scala closure).
    // The oracle runs the expanded expression directly: hash equality
    // proves definition-then-call ≡ inline, the contract that lets a
    // SQL-only team package shared business logic. Net revenue sums
    // through the dsumAt decimal gate at scale 6 — EXACTLY the
    // product's true decimal width (2dp × 2dp × 2dp), and small
    // enough that the group total stays under 2⁵³ micro-units: scale
    // 8 pushed the sum past double's integer range and the final
    // decimal→double cast rounded differently per engine (1-ulp
    // hash miss).
    "q241_sql_udf" -> ((s, dir) => {
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_net_price(
                 p DOUBLE, d DOUBLE, t DOUBLE) RETURNS DOUBLE
               RETURN p * (CAST(1.0 AS DOUBLE) - d)
                        * (CAST(1.0 AS DOUBLE) + t)""")
      Tables.table(s, dir, "lineitem")
        .createOrReplaceTempView("li_sqludf")
      s.sql(s"""SELECT l_returnflag,
                  ${Q.dsumAtSql(
                    "graft_net_price(l_extendedprice, l_discount, l_tax)",
                    6)} AS net_revenue,
                  count(1) AS n_lines
                FROM li_sqludf
                GROUP BY l_returnflag ORDER BY l_returnflag""")
    }),

    // Named-parameter SQL (Spark 4): the injection-safe serving
    // surface — the SAME registry query text reused across parameter
    // bindings (`:lo/:hi/:st` bound server-side as literals, never
    // string-spliced — what the reference's Athena callers should
    // have done instead of f-strings). The binder folds params to
    // literals BEFORE optimization, so the date range still reaches
    // the parquet scan as a pushed filter (the q03 half-open-range
    // discipline); the oracle inlines the same literals.
    "q247_parameterized_sql" -> ((s, dir) => {
      Tables.table(s, dir, "orders")
        .createOrReplaceTempView("orders_param")
      s.sql(
        """SELECT o_orderpriority, count(1) AS n_orders,
             min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
           FROM orders_param
           WHERE o_orderdate >= to_timestamp_ntz(:lo)
             AND o_orderdate < to_timestamp_ntz(:hi)
             AND o_orderstatus = :st
           GROUP BY o_orderpriority
           ORDER BY o_orderpriority""",
        Map("lo" -> "1995-01-01", "hi" -> "1996-01-01", "st" -> "F"))
    }),

    // Collation-aware aggregation (Spark 4 collations): GROUP BY
    // under UTF8_LCASE folds case-variant keys into one group while
    // the payload aggregates still see the raw bytes — the
    // semantics CI/locale-correct dedup needs WITHOUT an eager
    // lower() projection (a collated column keeps its original bytes;
    // at 100 TB that preserves dictionary encoding and lets future
    // collation-aware scans prune). Case variety is synthesized
    // deterministically (even doc_ids upper-cased); the oracle
    // replays the equivalence class as GROUP BY lower() — equal
    // hashes pin collated grouping ≡ case-insensitive equivalence on
    // this ASCII domain, with min() (binary, uppercase-first) and
    // the per-group binary-distinct census proving raw bytes survive.
    "q242_collated_groupby" -> ((s, dir) => {
      Tables.table(s, dir, "documents")
        .createOrReplaceTempView("docs_collate")
      s.sql("""WITH t AS (
                 SELECT CASE WHEN doc_id % 2 = 0 THEN upper(source)
                             ELSE source END AS mixed
                 FROM docs_collate)
               SELECT min(mixed) AS variant_min,
                      count(1) AS n_docs,
                      count(DISTINCT mixed) AS n_variants
               FROM t
               GROUP BY collate(mixed, 'UTF8_LCASE')
               ORDER BY variant_min""")
    }),

    // Association rules over market baskets (parts co-occurring in an
    // order): pair support from the same per-order self-join as q107's
    // edge build, confidence = supp(ab)/supp(a), lift =
    // n·supp(ab)/(supp(a)·supp(b)) — all RATIONAL (integer counts +
    // one double division each; the q103/q130 no-transcendentals
    // discipline). Two hash aggregates + two broadcast-size joins on
    // the item key; the order count rides as a broadcast 1-row frame.
    "q131_assoc_rules" -> ((s, dir) => {
      import s.implicits._
      val os = Tables.table(s, dir, "lineitem")
        .select($"l_orderkey".as("ok"), $"l_partkey".as("part"))
        .distinct()
        .localCheckpoint() // 3 consumers: order count, supports, pairs
      val n = os.select($"ok").distinct().agg(count(lit(1)).as("n_orders"))
      val s1 = os.groupBy($"part").agg(count(lit(1)).as("supp"))
      // pairs per order from its sorted part set (the q107 edge
      // build: one aggregate shuffle, no two-sided self-join)
      val pairs = os.groupBy($"ok")
        .agg(sort_array(collect_set($"part")).as("ps"))
        .select(explode(expr(
          """flatten(transform(ps, (x, i) ->
               transform(slice(ps, i + 2, size(ps)), y ->
                 struct(x AS pa, y AS pb))))""")).as("p"))
        .select($"p.pa", $"p.pb")
        .groupBy($"pa", $"pb").agg(count(lit(1)).as("supp_ab"))
      pairs
        .join(s1.toDF("pa", "supp_a"), "pa")
        .join(s1.toDF("pb", "supp_b"), "pb")
        .crossJoin(broadcast(n))
        .select($"pa", $"pb", $"supp_ab", $"supp_a", $"supp_b",
          ($"supp_ab".cast("double") / $"supp_a".cast("double"))
            .as("conf_ab"),
          (($"supp_ab" * $"n_orders").cast("double")
            / ($"supp_a" * $"supp_b").cast("double")).as("lift"))
        .orderBy($"supp_ab".desc, $"pa", $"pb")
        .limit(20)
    }),

    // CDC changelog compaction: fold an append-only change log to the
    // table it encodes — latest op per key wins, delete tombstones
    // ('error' here) drop the key entirely. This is the log→table
    // materialization every CDC sink performs (Debezium compaction,
    // Delta MERGE ingestion); q10's keep-latest plus tombstone
    // semantics. One row_number window per key — the shuffle is on
    // the key, per-key state is one row, no global ordering anywhere.
    "q135_cdc_compact" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts".desc, $"event_id".desc)
      Tables.table(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1 && $"event_type" =!= "error")
        .select($"user_id", $"event_type", $"ts", $"value")
        .orderBy($"user_id")
    }),

    // Zone-map manifest: per-zone (shipdate month × 8-way portable
    // hash bucket) min/max/count statistics over lineitem — the
    // file-level skipping index a lakehouse stores per data file
    // (Delta/Iceberg column stats, Parquet row-group min/max). The
    // `skip_feb` column evaluates the skipping decision for a probe
    // month: a scan with that predicate reads only zones where it is
    // false — at 100 TB the manifest is the difference between
    // reading 3 files and 3000. One hash aggregate; zone count is
    // bounded (months × buckets), so the manifest itself is tiny.
    "q136_zonemap_manifest" -> ((s, dir) => {
      import s.implicits._
      val li = Tables.table(s, dir, "lineitem")
      li.select(
          (year($"l_shipdate") * 12 + month($"l_shipdate")).cast("long")
            .as("zmonth"),
          (graft.text.TextFunctions.hash60(
            concat($"l_orderkey".cast("string"), lit("_zone"))) % 8)
            .as("zbucket"),
          $"l_orderkey", $"l_shipdate")
        .groupBy($"zmonth", $"zbucket")
        .agg(count(lit(1)).as("n_rows"),
          min($"l_orderkey").as("min_key"),
          max($"l_orderkey").as("max_key"),
          min($"l_shipdate".cast("date")).as("min_ship"),
          max($"l_shipdate".cast("date")).as("max_ship"))
        .withColumn("skip_feb",
          $"max_ship" < lit("2024-02-01").cast("date") ||
            $"min_ship" > lit("2024-02-29").cast("date"))
        .orderBy($"zmonth", $"zbucket")
    }),

    // Compaction planning: assign files (stand-in: documents, sized
    // by n_chars) to target-size output bins, next-fit by start
    // offset over the (size desc, id) order — the small-files
    // compaction manifest a lakehouse writes before rewriting a
    // partition. One window cumsum per source (keys partition the
    // work; no global window) + one aggregate; bins never split a
    // file, so a bin overflows by at most one file — the standard
    // planner trade. Integer arithmetic only (div, never /).
    "q127_compaction_plan" -> ((s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy($"bytes".desc, $"doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      Tables.table(s, dir, "documents")
        .select($"source", $"doc_id", $"n_chars".as("bytes"))
        .withColumn("cum", sum($"bytes").over(w))
        .withColumn("bin_id", expr("(cum - bytes) div 4096"))
        .groupBy($"source", $"bin_id")
        .agg(count(lit(1)).as("n_files"), sum($"bytes").as("bin_bytes"),
          min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
        .orderBy($"source", $"bin_id")
    }),

    // Snapshot-diff CDC: turn two full snapshots into a change log
    // (insert/delete/update, null-safe compares) — the reverse of
    // Scd2's change-log consumption, and what a daily-full-dump lake
    // runs before Merge. Snapshots are derived deterministically from
    // orders: keys ≡ 0 (mod 13) exist only in the new side (inserts),
    // ≡ 0 (mod 10) only in the old side (deletes), ≡ 0 (mod 7) get a
    // +10.0 price mutation (updates; exact double add — a rounded
    // multiply is engine-ambiguous in the last ulp).
    "q110_snapshot_diff" -> ((s, dir) => {
      import s.implicits._
      val ords = Tables.table(s, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val oldSnap = ords.filter($"o_orderkey" % 13 =!= 0)
      val newSnap = ords.filter($"o_orderkey" % 10 =!= 0)
        .withColumn("o_totalprice",
          when($"o_orderkey" % 7 === 0, $"o_totalprice" + lit(10.0))
            .otherwise($"o_totalprice"))
      graft.operators.SnapshotDiff.diff(oldSnap, newSnap,
        keys = Seq("o_orderkey"),
        compareCols = Seq("o_orderstatus", "o_totalprice"))
        .orderBy($"o_orderkey")
    }),

    // Data-quality audit: referential integrity across the star
    // schema, null keys, duplicate PKs, domain ranges — each check a
    // partial-aggregable counter (or one anti-join for FKs), reported
    // as one row per constraint. Oracle FK checks are NOT EXISTS, not
    // NOT IN: the anti join counts a NULL fk as an orphan
    // (DataQualitySpec pins that), while NULL NOT IN (...) is NULL
    // and silently uncounts it.
    "q111_quality_audit" -> ((s, dir) => {
      import graft.store.DataQuality._
      import s.implicits._
      val li = Tables.table(s, dir, "lineitem")
      val ords = Tables.table(s, dir, "orders")
      val cust = Tables.table(s, dir, "customer")
      val part = Tables.table(s, dir, "part")
      val ev = Tables.table(s, dir, "events")
      audit(Seq(
        foreignKeyCheck("fk_lineitem_orders", li, "l_orderkey",
          ords, "o_orderkey"),
        foreignKeyCheck("fk_orders_customer", ords, "o_custkey",
          cust, "c_custkey"),
        foreignKeyCheck("fk_lineitem_part", li, "l_partkey",
          part, "p_partkey"),
        predicateCheck("notnull_events_user", ev, $"user_id".isNull),
        uniqueCheck("unique_customer_pk", cust, "c_custkey"),
        predicateCheck("range_lineitem_discount", li,
          $"l_discount" < 0.0 || $"l_discount" > 1.0),
        predicateCheck("range_lineitem_quantity", li,
          $"l_quantity" <= 0.0)))
        .orderBy(col("check_name"))
    }))

  /** Shared by q36 (composed union+window rendering) and q60 (custom
    * physical sort-merge exec) — same semantics, one oracle text. */
  private val asofOracle =
    """WITH purchases AS (
         SELECT event_id, user_id, ts, value FROM events
         WHERE event_type = 'purchase'),
       views AS (
         SELECT user_id, ts, max(event_id) AS view_event_id FROM events
         WHERE event_type = 'view' GROUP BY user_id, ts)
       SELECT p.event_id, p.user_id, p.ts, p.value,
              v.ts AS view_ts, v.view_event_id
       FROM purchases p
       ASOF LEFT JOIN views v
         ON p.user_id = v.user_id AND v.ts <= p.ts
       ORDER BY p.event_id"""

  /** q226/q227's shared graph: the undirected customer↔supplier
    * purchase bipartite graph (q100's node space — supplier ids
    * offset past the customer id range), deduped to DISTINCT edges
    * (unlike q100, whose multi-edges weight the walk) and
    * materialized both directions so degree/neighborhood reads are
    * one groupBy(src). */
  def purchaseEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    // INLINE build, not GraphFixtures.purchaseEdges, for the
    // ITERATIVE consumers (q226 k-core, q227 LPA, q266 BFS): a
    // one-JVM A/B showed LPA ~1.5x slower on staged-parquet edges
    // than join-derived ones even with both localCheckpointed (the
    // q100 block-layout sensitivity again — the staged scan's
    // round-robin layout plans worse downstream than the distinct's
    // hash layout). The staged fixture stays for single-pass
    // consumers (q237) and the part co-purchase family, where it
    // measured faster.
    import s.implicits._
    val li = Tables.table(s, dir, "lineitem")
      .select($"l_orderkey", $"l_suppkey")
    val ords = Tables.table(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey")
    val pairs = li.join(ords, $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("a"), ($"l_suppkey" + 1000000L).as("b"))
      .distinct()
    pairs.select($"a".as("src"), $"b".as("dst"))
      .union(pairs.select($"b".as("src"), $"a".as("dst")))
  }

  /** q226's kernel, round count explicit so KCoreSpec can pin the
    * fixpoint (rounds and rounds+1 must agree on the testdata).
    * Surviving nodes with their final in-core degree. */
  def kcore(s: org.apache.spark.sql.SparkSession, dir: String,
      k: Int, rounds: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    var e = purchaseEdges(s, dir).localCheckpoint()
    // peeling only REMOVES edges, so an unchanged edge COUNT between
    // rounds means the exact fixpoint — the remaining rounds are
    // no-op passes over the final core and are skipped (the ×10
    // sweep showed them dominating: 6 full materializations of a
    // converged frame). The early exit cannot change the result the
    // oracle's fixed 6-round unrolling computes; the count itself is
    // a near-free job against the just-checkpointed blocks.
    var prevN = e.count()
    var r = 0
    while (r < rounds) {
      val keep = e.groupBy($"src").agg(count(lit(1)).as("deg"))
        .filter($"deg" >= k).select($"src".as("node"))
      // r16: the surviving-node set is ≤ |V| ≤ |E| rows (one per
      // node with degree ≥ k, and every node has ≥ 1 edge) — the
      // edge count we already track for the fixpoint exit is a FREE
      // measured gate for broadcasting it into both semi-join-shaped
      // filters. The checkpointed edge frame carries no stats, so
      // Catalyst planned both joins as two-sided exchanges of the
      // EDGE list per round; broadcast keeps each round at ONE edge
      // exchange (the degree aggregate). Past the gate (a 100 TB
      // core) both joins shuffle as before — same surviving edges.
      def keepSide(d: org.apache.spark.sql.DataFrame) =
        if (prevN <= 2000000L) broadcast(d) else d
      e = e.join(keepSide(keep.toDF("src")), "src")
        .join(keepSide(keep.toDF("dst")), "dst")
        .select($"src", $"dst")
        .localCheckpoint()
      val n = e.count()
      r = if (n == prevN) rounds else r + 1
      prevN = n
    }
    e.groupBy($"src").agg(count(lit(1)).as("deg"))
      .select($"src".as("node"), $"deg")
      .orderBy($"node")
  }

  /** q224's kernel: global triangle count over the basket
    * co-occurrence graph, optionally on a deterministic 1/denom edge
    * sample (Doulion). Same degree-oriented wedge machinery and the
    * same measured-broadcast / adaptive-width discipline as
    * [[triangleCount]]; the sample filter runs BEFORE the edge-dedup
    * exchange so every downstream cost shrinks with p. Returns
    * (edges kept, triangles among them). */
  /** q311's edge build: deterministic 1/4-of-orders part co-purchase
    * pairs. Basket-bounded degree (~order size², independent of
    * corpus scale) keeps the downstream 2-hop UNION ALL expansion
    * O(deg²) rows per source at ANY SF. */
  def reachEdgesSql(lineitem: String): String =
    s"""SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
          FROM $lineitem a JOIN $lineitem b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey <> b.l_partkey
          WHERE a.l_orderkey % 4 = 0"""

  /** q311's recursion text, shared VERBATIM by the Spark run and the
    * DuckDB oracle — only the edge relation name differs. Spark's
    * recursion supports UNION ALL only (4.1), so the working table
    * carries PATH COUNTS, not a deduped frontier; the min-hop rollup
    * after the recursion restores BFS semantics. */
  def reachRecursiveSql(edges: String): String =
    s"""WITH RECURSIVE
        src AS (SELECT min(s) AS s0 FROM $edges),
        reach(node, hop) AS (
          SELECT s0, 0 FROM src
          UNION ALL
          SELECT e.d, reach.hop + 1
          FROM reach JOIN $edges e ON e.s = reach.node
          WHERE reach.hop < 2),
        mh AS (SELECT node, min(hop) AS hop FROM reach GROUP BY node)
        SELECT hop, count(*) AS n_nodes, min(node) AS min_node,
               max(node) AS max_node,
               CAST(sum(node) AS BIGINT) AS sum_nodes
        FROM mh GROUP BY hop ORDER BY hop"""

  /** The oracle's one-statement form: the edge CTE inlined into the
    * recursive text. DuckDB materializes a multiply-referenced CTE
    * once, so this single statement already executes edges-built-once
    * there — the shape [[queries]]' staged Spark form matches. */
  def recursiveReachSql(lineitem: String): String =
    s"""WITH RECURSIVE
        e AS (${reachEdgesSql(lineitem)}),
        src AS (SELECT min(s) AS s0 FROM e),
        reach(node, hop) AS (
          SELECT s0, 0 FROM src
          UNION ALL
          SELECT e.d, reach.hop + 1
          FROM reach JOIN e ON e.s = reach.node
          WHERE reach.hop < 2),
        mh AS (SELECT node, min(hop) AS hop FROM reach GROUP BY node)
        SELECT hop, count(*) AS n_nodes, min(node) AS min_node,
               max(node) AS max_node,
               CAST(sum(node) AS BIGINT) AS sum_nodes
        FROM mh GROUP BY hop ORDER BY hop"""

  def triangleTotal(s: org.apache.spark.sql.SparkSession, dir: String,
      sampleDenom: Option[Long]): (Long, Long) = {
    import s.implicits._
    // shared fixture: raw co-purchase pairs, staged once per JVM
    // (q107 + q224's two legs used to regenerate this aggregate
    // explosion three times per run)
    val pairs = GraphFixtures.partPairs(s, dir)
    // keep an edge iff its salted 60-bit hash < 2^60/denom — the
    // decision is a pure function of (x, y), so duplicates agree and
    // the oracle replays the identical sample
    val sampled = sampleDenom.fold(pairs) { dn =>
      pairs.filter(TextFunctions.hash60(
        concat($"x".cast("string"), lit("_"), $"y".cast("string"),
          lit("_doulion"))) < lit((1L << 60) / dn))
    }
    val liRows =
      GraphFixtures.lineitemCount(s, dir) / sampleDenom.getOrElse(1L)
    val parts = math.min(1024L, math.max(
      s.sessionState.conf.numShufflePartitions.toLong,
      liRows / 250000L)).toInt
    val e = sampled.repartition(parts, $"x", $"y").distinct()
      .localCheckpoint()
    val deg = e.select($"x".as("node")).union(e.select($"y".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val degSmall = deg.count() <= 2000000L
    def degSide(df: org.apache.spark.sql.DataFrame) =
      if (degSmall) broadcast(df) else df
    val or = e
      .join(degSide(deg.toDF("x", "dx")), "x")
      .join(degSide(deg.toDF("y", "dy")), "y")
      .select(
        when($"dx" < $"dy" || ($"dx" === $"dy" && $"x" < $"y"), $"x")
          .otherwise($"y").as("src"),
        when($"dx" < $"dy" || ($"dx" === $"dy" && $"x" < $"y"), $"y")
          .otherwise($"x").as("dst"))
      .localCheckpoint()
    val eKept = e.count()
    val closeSide = if (eKept <= 5000000L) broadcast(e) else e
    val wedgeRows = or.groupBy($"src").agg(count(lit(1)).as("c"))
      .agg(sum($"c" * $"c")).as[Long].head()
    val wparts = math.min(2048L, math.max(
      s.sessionState.conf.numShufflePartitions.toLong,
      wedgeRows / 4000000L)).toInt
    val wedges = or.toDF("u", "v").repartition(wparts, $"u")
      .join(or.toDF("u", "w"), "u")
      .filter($"v" < $"w")
    val tri = (if (eKept <= 5000000L) wedges
      else wedges.repartition(wparts, $"v", $"w"))
      .join(closeSide, $"v" === $"x" && $"w" === $"y")
      .count()
    (eKept, tri)
  }

  /** q107's body, parameterized so PlanAuditSpec can pin the
    * no-broadcast fallback (the 100× path: edges outgrow a broadcast
    * and the closing join degrades to a shuffled join — same counts,
    * audited, not just promised in a comment).
    *
    * @param broadcastClose hint the closing edge join as a broadcast
    *   (the wedge stream then never exchanges); false = shuffled join
    *   on (v, w) for the scale where edges outgrow executor memory.
    */
  def triangleCount(s: org.apache.spark.sql.SparkSession, dir: String,
      broadcastClose: Boolean = true): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    // undirected distinct edges from the SHARED raw-pair fixture
    // (per-order sorted-set explosion, int-narrowed keys, one
    // aggregate shuffle — see GraphFixtures.partPairs; this kernel
    // used to regenerate it per call).
    // partition count for the edge-dedup exchange SCALES WITH DATA
    // (the adaptive-cells discipline applied to exchanges): a fixed
    // session width (32) means per-task hash maps grow linearly with
    // the corpus — the ×50 full-suite sweep OOMed exactly there. One
    // bounded count prices it; clamp keeps tiny inputs at the session
    // default and bounds the task count at the high end.
    val liRows = GraphFixtures.lineitemCount(s, dir)
    val parts = math.min(1024L, math.max(
      s.sessionState.conf.numShufflePartitions.toLong,
      liRows / 250000L)).toInt
    val e = GraphFixtures.partPairs(s, dir)
      .repartition(parts, $"x", $"y") // distinct reuses this clustering
      .distinct()
      .localCheckpoint()
    val deg = e.select($"x".as("node")).union(e.select($"y".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("deg"))
      .localCheckpoint() // counted below, then joined twice
    // orient by (deg, id): src strictly precedes dst in the total
    // order. Degrees are one row per NODE (≪ edges) — broadcast both
    // lookups so orientation stays scan-parallel, but MEASURED, not
    // hinted blind: "one per node" is small relative to edges, not
    // absolutely (the ×50 sweep OOMed on two forced multi-million-row
    // broadcasts — hints bypass the size check). Past the cutoff the
    // orientation joins shuffle; same counts.
    // localCheckpoint on `or`: BOTH sides of the wedge self-join read
    // it; unpinned, the planner recomputes the orientation (and its
    // two degree lookups) once per side
    val degSmall = deg.count() <= 2000000L
    def degSide(d: org.apache.spark.sql.DataFrame) =
      if (degSmall) broadcast(d) else d
    val or = e
      .join(degSide(deg.toDF("x", "dx")), "x")
      .join(degSide(deg.toDF("y", "dy")), "y")
      .select(
        when($"dx" < $"dy" || ($"dx" === $"dy" && $"x" < $"y"), $"x")
          .otherwise($"y").as("src"),
        when($"dx" < $"dy" || ($"dx" === $"dy" && $"x" < $"y"), $"y")
          .otherwise($"x").as("dst"))
      .localCheckpoint()
    // wedges at the low vertex; close against the undirected set
    // v < w by id and e is id-normalized, so the closing edge is
    // (v, w). Broadcast the edge set: the wedge stream (Σ out-deg²,
    // 41M rows at sf0.1) then closes against a hash map without
    // ever shuffling — the wedge side is the thing that must not
    // exchange. The broadcast decision is MEASURED, not hinted
    // blind: e is pinned, so counting it is a cached scan, and a
    // forced broadcast of an edge set that outgrew the driver is
    // exactly what an explicit broadcast() hint would do (hints
    // bypass the size check — the first full-suite ×50 sweep caught
    // it). Past the cutoff the closing join shuffles on (v, w); the
    // wedge count, not the join strategy, is the scaling term.
    // broadcastClose=false forces the shuffled path for the spec.
    val closeBroadcasts = broadcastClose && e.count() <= 5000000L
    val closeSide = if (closeBroadcasts) broadcast(e) else e
    // wedge-phase width also scales with DATA: Σ out-deg² IS the
    // wedge-stream row count (priced exactly by one bounded aggregate
    // over the oriented edges), and per-task sort/agg state is
    // wedge-rows / partitions — a fixed session width (32) blew the
    // heap at ×50. The clamp keeps bench scale at the session
    // default; counts are partition-count invariant.
    val wedgeRows = or.groupBy($"src").agg(count(lit(1)).as("c"))
      .agg(sum($"c" * $"c")).as[Long].head()
    val wparts = math.min(2048L, math.max(
      s.sessionState.conf.numShufflePartitions.toLong,
      wedgeRows / 4000000L)).toInt
    val wedges = or.toDF("u", "v").repartition(wparts, $"u")
      .join(or.toDF("u", "w"), "u")
      .filter($"v" < $"w")
    // under a broadcast close the wedge stream must NOT exchange at
    // all (that is the point of broadcasting); the (v, w) re-width
    // exists only for the shuffled path, where the join was about to
    // exchange anyway and 32-wide sorts of the wedge volume OOM
    val tri = (if (closeBroadcasts) wedges
      else wedges.repartition(wparts, $"v", $"w"))
      .join(closeSide, $"v" === $"x" && $"w" === $"y")
    tri.select(explode(array($"u", $"v", $"w")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("n_triangles"))
      .select($"node".cast("long").as("node"), $"n_triangles")
      .orderBy($"n_triangles".desc, $"node")
      .limit(20)
  }

  val oracles: Map[String, String] = Map(
    // the UNSALTED join: salt-join ≡ join is the identity under test
    "q329_salted_join" ->
      s"""SELECT s_nationkey, count(*)::BIGINT AS n_items,
                 ${graft.queries.Q.dsumSql(
                   "l_extendedprice * (1.0 - l_discount)")} AS revenue
          FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          GROUP BY s_nationkey ORDER BY s_nationkey""",

    "q266_bfs_hops" ->
      """WITH RECURSIVE pairs AS (
           SELECT o.o_custkey AS cust,
                  l.l_suppkey + 1000000 AS supp
           FROM lineitem l JOIN orders o
             ON l.l_orderkey = o.o_orderkey),
         edges AS (
           SELECT DISTINCT src, dst FROM (
             SELECT cust AS src, supp AS dst FROM pairs
             UNION ALL SELECT supp AS src, cust AS dst FROM pairs)),
         bfs AS (
           SELECT (SELECT min(cust) FROM pairs) AS node, 0 AS hop
           UNION
           SELECT e.dst AS node, b.hop + 1 AS hop
           FROM bfs b JOIN edges e ON e.src = b.node
           WHERE b.hop < 6),
         dist AS (
           SELECT node, min(hop) AS hop FROM bfs GROUP BY 1)
         SELECT hop, count(*)::BIGINT AS n_nodes,
                CAST(min(node) AS BIGINT) AS min_node,
                CAST(max(node) AS BIGINT) AS max_node,
                CAST(sum(node) AS BIGINT) AS sum_nodes
         FROM dist GROUP BY hop ORDER BY hop""",
    "q81_bloom_semi_join" ->
      s"""SELECT l_returnflag,
                 count(1) AS n_rows,
                 ${Q.dsumSql("l_quantity")} AS sum_qty,
                 ${Q.dsumSql("l_extendedprice")} AS sum_price
          FROM lineitem
          WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 5)
          GROUP BY l_returnflag
          ORDER BY l_returnflag""",
    "q87_salted_join_agg" ->
      s"""SELECT o_orderstatus,
                 count(1) AS n_rows,
                 ${Q.dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY o_orderstatus
          ORDER BY o_orderstatus""",
    // replay of all 3 PageRank iterations: double divisions, decimal
    // sums, damping in the SAME double expression order as the engine
    // (NB every numeric literal is CAST to DOUBLE — a bare 0.85 is a
    // DECIMAL literal in DuckDB and would change the arithmetic)
    "q100_pagerank" -> {
      def iter(prev: String, out: String): String =
        s"""c$out AS (
              SELECT e.dst AS node,
                     CAST(SUM(CAST(r.rank / d.deg AS DECIMAL(28,15)))
                       AS DOUBLE) AS contrib
              FROM e JOIN deg d ON e.src = d.src
                     JOIN r$prev r ON r.node = e.src
              GROUP BY e.dst),
            r$out AS (
              SELECT n.node,
                     (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                       / (SELECT n FROM nn)
                       + CAST(0.85 AS DOUBLE) * COALESCE(c.contrib,
                           CAST(0.0 AS DOUBLE)) AS rank
              FROM nodes n LEFT JOIN c$out c ON n.node = c.node)"""
      s"""WITH pairs AS (
            SELECT o_custkey AS cust, l_suppkey + 1000000 AS supp
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          e AS (
            SELECT DISTINCT src, dst FROM (
              SELECT cust AS src, supp AS dst FROM pairs
              UNION ALL SELECT supp AS src, cust AS dst FROM pairs)),
          nodes AS (SELECT DISTINCT node FROM (
            SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
          nn AS (SELECT count(1) AS n FROM nodes),
          deg AS (SELECT src, count(1) AS deg FROM e GROUP BY src),
          r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn)
                   AS rank FROM nodes),
          ${iter("0", "1")},
          ${iter("1", "2")},
          ${iter("2", "3")}
          SELECT node, rank FROM r3 ORDER BY node"""
    },

    // the IDENTICAL text Spark ran — zero re-rendering drift possible
    "q311_recursive_reachability" -> recursiveReachSql("lineitem"),

    // same deterministic edge thinning (md5 threshold), components
    // closed by a recursive min-label closure, same census
    "q313_components_alternating" ->
      s"""WITH RECURSIVE pairs AS (
            SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey),
          e AS (
            SELECT x, y FROM pairs
            WHERE CAST('0x' || substr(md5(x::VARCHAR || '_' ||
                    y::VARCHAR || '_cc'), 1, 15) AS BIGINT)
                  < ${(1L << 60) / 64L}),
          sym AS (
            SELECT x AS ia, y AS ib FROM e
            UNION SELECT y AS ia, x AS ib FROM e),
          reach(id, r) AS (
            SELECT ia, ib FROM sym
            UNION
            SELECT s.ia, reach.r
            FROM sym s JOIN reach ON s.ib = reach.id),
          lab AS (
            SELECT id, least(min(r), id) AS cid
            FROM reach GROUP BY id),
          sizes AS (SELECT cid, count(*)::BIGINT AS sz
                    FROM lab GROUP BY cid)
          SELECT sz AS cluster_size, count(*)::BIGINT AS n_clusters,
                 min(cid) AS min_root
          FROM sizes GROUP BY sz ORDER BY cluster_size""",

    // Both legs replayed: the SAME deterministic pair sample (md5
    // threshold, undirected-pair salt) and the full graph, each
    // through the identical 3-iteration replay as the q100 oracle —
    // hash equality proves sample, sampled ranks, and exact
    // companion. Numeric discipline inherited from q100: double
    // division, DECIMAL(28,15) cross-edge sums, every literal CAST
    // to DOUBLE.
    "q308_pagerank_doulion" -> {
      def iter(tag: String, prev: String, out: String): String =
        s"""c$tag$out AS (
              SELECT e.dst AS node,
                     CAST(SUM(CAST(r.rank / d.deg AS DECIMAL(28,15)))
                       AS DOUBLE) AS contrib
              FROM e$tag e JOIN deg$tag d ON e.src = d.src
                     JOIN r$tag$prev r ON r.node = e.src
              GROUP BY e.dst),
            r$tag$out AS (
              SELECT n.node,
                     (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                       / (SELECT n FROM nn$tag)
                       + CAST(0.85 AS DOUBLE) * COALESCE(c.contrib,
                           CAST(0.0 AS DOUBLE)) AS rank
              FROM nodes$tag n LEFT JOIN c$tag$out c ON n.node = c.node)"""
      def graph(tag: String, src: String): String =
        s"""e$tag AS (
            SELECT DISTINCT src, dst FROM (
              SELECT cust AS src, supp AS dst FROM $src
              UNION ALL SELECT supp AS src, cust AS dst FROM $src)),
          nodes$tag AS (SELECT DISTINCT node FROM (
            SELECT src AS node FROM e$tag UNION ALL SELECT dst FROM e$tag)),
          nn$tag AS (SELECT count(1) AS n FROM nodes$tag),
          deg$tag AS (SELECT src, count(1) AS deg FROM e$tag GROUP BY src),
          r${tag}0 AS (SELECT node,
            CAST(1.0 AS DOUBLE) / (SELECT n FROM nn$tag) AS rank
            FROM nodes$tag),
          ${iter(tag, "0", "1")},
          ${iter(tag, "1", "2")},
          ${iter(tag, "2", "3")}"""
      s"""WITH pairs AS (
            SELECT o_custkey AS cust, l_suppkey + 1000000 AS supp
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          keptp AS (
            SELECT cust, supp FROM pairs
            WHERE CAST('0x' || substr(md5(cust::VARCHAR || '_' ||
                    supp::VARCHAR || '_prsample'), 1, 15) AS BIGINT)
                  < ${(1L << 60) / 4L}),
          ${graph("s", "keptp")},
          ${graph("f", "pairs")},
          top AS (SELECT node, rank AS rank_s FROM rs3
                  ORDER BY rank_s DESC, node LIMIT 20)
          SELECT t.node, t.rank_s, f.rank AS rank_exact,
                 t.rank_s - f.rank AS err
          FROM top t JOIN rf3 f ON f.node = t.node
          ORDER BY t.rank_s DESC, t.node"""
    },

    // full-rescan definition the year-by-year fold must equal exactly
    "q95_incremental_agg" ->
      s"""SELECT o_custkey, count(1) AS n_rows,
                 ${Q.dsumAtSql("o_totalprice", 8)} AS total_price,
                 min(o_orderdate) AS first_order,
                 max(o_orderdate) AS last_order
          FROM orders
          GROUP BY o_custkey
          ORDER BY o_custkey""",
    "q82_zorder_key" ->
      """WITH t AS (
           SELECT o_orderkey,
                  (o_custkey % 1024)::BIGINT AS x,
                  ((o_orderdate::DATE - DATE '1970-01-01') % 1024)::BIGINT AS y
           FROM orders),
         s0 AS (SELECT o_orderkey, x, y,
                       x & 1023 AS sx, y & 1023 AS sy FROM t),
         s1 AS (SELECT o_orderkey, x, y,
                       (sx | (sx << 16)) & 281470681808895 AS sx,
                       (sy | (sy << 16)) & 281470681808895 AS sy FROM s0),
         s2 AS (SELECT o_orderkey, x, y,
                       (sx | (sx << 8)) & 71777214294589695 AS sx,
                       (sy | (sy << 8)) & 71777214294589695 AS sy FROM s1),
         s3 AS (SELECT o_orderkey, x, y,
                       (sx | (sx << 4)) & 1085102592571150095 AS sx,
                       (sy | (sy << 4)) & 1085102592571150095 AS sy FROM s2),
         s4 AS (SELECT o_orderkey, x, y,
                       (sx | (sx << 2)) & 3689348814741910323 AS sx,
                       (sy | (sy << 2)) & 3689348814741910323 AS sy FROM s3),
         s5 AS (SELECT o_orderkey, x, y,
                       (sx | (sx << 1)) & 6148914691236517205 AS sx,
                       (sy | (sy << 1)) & 6148914691236517205 AS sy FROM s4)
         SELECT o_orderkey, x, y, (sx | (sy << 1)) AS z
         FROM s5
         ORDER BY o_orderkey""",
    "q60_asof_join_exec" -> asofOracle,
    // identical semantics to q23 — one oracle text, can't drift
    "q63_sessionize_chunked" -> Analytics.oracles("q23_sessionize"),
    "q56_range_join_prior_activity" ->
      s"""WITH purchases AS (
            SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'purchase')
          SELECT p.event_id, p.user_id,
                 count(e.ts) AS n_prior,
                 COALESCE(${Q.dsumSql("e.value")}, 0) AS prior_value
          FROM purchases p LEFT JOIN events e
            ON e.user_id = p.user_id
           AND epoch_us(e.ts) >= epoch_us(p.ts) - 3600000000
           AND epoch_us(e.ts) < epoch_us(p.ts)
          GROUP BY p.event_id, p.user_id
          ORDER BY p.event_id""",
    "q36_asof_join" -> asofOracle,
    "q93_shard_manifest" ->
      """WITH k AS (
           SELECT doc_id,
                  CAST('0x' || substr(md5(doc_id::VARCHAR || '_shuffle'),
                       1, 15) AS BIGINT) AS shuffle_key
           FROM documents),
         n AS (
           SELECT doc_id, shuffle_key,
                  CAST(row_number() OVER (ORDER BY shuffle_key, doc_id)
                       AS BIGINT) AS global_seq
           FROM k)
         SELECT doc_id, shuffle_key, global_seq,
                CAST((global_seq - 1) // 64 AS BIGINT) AS shard
         FROM n
         ORDER BY global_seq""",
    "q37_pivot_event_counts" ->
      """SELECT CAST(ts AS DATE) AS day,
                count(1) FILTER (event_type = 'click') AS click,
                count(1) FILTER (event_type = 'error') AS error,
                count(1) FILTER (event_type = 'purchase') AS purchase,
                count(1) FILTER (event_type = 'signup') AS signup,
                count(1) FILTER (event_type = 'view') AS view
         FROM events
         GROUP BY day
         ORDER BY day""",
    // µs-truncated ts like q105/q112 (events carries NANOS on disk)
    "q135_cdc_compact" ->
      """WITH r AS (
           SELECT user_id, event_type,
                  make_timestamp(epoch_us(ts)) AS ts, value,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
           FROM events)
         SELECT user_id, event_type, ts, value
         FROM r WHERE rn = 1 AND event_type <> 'error'
         ORDER BY user_id""",
    "q136_zonemap_manifest" ->
      """WITH z AS (
           SELECT (date_part('year', l_shipdate) * 12
                   + date_part('month', l_shipdate))::BIGINT AS zmonth,
                  CAST('0x' || substr(md5(l_orderkey::VARCHAR || '_zone'),
                       1, 15) AS BIGINT) % 8 AS zbucket,
                  l_orderkey, l_shipdate
           FROM lineitem),
         m AS (SELECT zmonth, zbucket, count(*)::BIGINT AS n_rows,
                      min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
                      min(l_shipdate::DATE) AS min_ship,
                      max(l_shipdate::DATE) AS max_ship
               FROM z GROUP BY zmonth, zbucket)
         SELECT zmonth, zbucket, n_rows, min_key, max_key,
                min_ship, max_ship,
                (max_ship < DATE '2024-02-01'
                 OR min_ship > DATE '2024-02-29') AS skip_feb
         FROM m ORDER BY zmonth, zbucket""",
    "q131_assoc_rules" ->
      """WITH os AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS part
                     FROM lineitem),
         n AS (SELECT count(DISTINCT ok)::BIGINT AS n_orders FROM os),
         s1 AS (SELECT part, count(*)::BIGINT AS supp FROM os
                GROUP BY part),
         p AS (SELECT a.part AS pa, b.part AS pb,
                      count(*)::BIGINT AS supp_ab
               FROM os a JOIN os b ON a.ok = b.ok AND a.part < b.part
               GROUP BY a.part, b.part)
         SELECT p.pa, p.pb, p.supp_ab,
                sa.supp AS supp_a, sb.supp AS supp_b,
                p.supp_ab::DOUBLE / sa.supp::DOUBLE AS conf_ab,
                (p.supp_ab * n.n_orders)::DOUBLE
                  / (sa.supp * sb.supp)::DOUBLE AS lift
         FROM p JOIN s1 sa ON p.pa = sa.part
                JOIN s1 sb ON p.pb = sb.part
                CROSS JOIN n
         ORDER BY supp_ab DESC, pa, pb LIMIT 20""",
    "q127_compaction_plan" ->
      """WITH sized AS (SELECT source, doc_id, n_chars AS bytes
                        FROM documents),
         ordered AS (
           SELECT source, doc_id, bytes,
                  sum(bytes) OVER (PARTITION BY source
                    ORDER BY bytes DESC, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum
           FROM sized),
         binned AS (
           SELECT source, doc_id, bytes,
                  ((cum - bytes) // 4096)::BIGINT AS bin_id
           FROM ordered)
         SELECT source, bin_id, count(*)::BIGINT AS n_files,
                sum(bytes)::BIGINT AS bin_bytes,
                min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM binned GROUP BY source, bin_id ORDER BY source, bin_id""",
    // ts is truncated to µs up front (make_timestamp/epoch_us):
    // Spark reads the parquet TIMESTAMP_NS at µs (Tables.table), so
    // grouping/ranking/rendering must happen at µs in the oracle too.
    "q105_scd2_history" ->
      """WITH dedup AS (
           SELECT user_id, make_timestamp(epoch_us(ts)) AS ts,
                  max_by(event_type, event_id) AS event_type
           FROM events GROUP BY 1, 2),
         marked AS (
           SELECT user_id, ts, event_type,
                  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts)
                    AS prev
           FROM dedup),
         v AS (
           SELECT user_id, event_type, ts AS valid_from,
                  lead(ts) OVER (PARTITION BY user_id ORDER BY ts)
                    AS valid_to
           FROM marked
           WHERE prev IS NULL OR prev <> event_type)
         SELECT user_id, event_type, valid_from, valid_to,
                valid_to IS NULL AS is_current
         FROM v
         ORDER BY user_id, valid_from""",
    "q107_triangle_count" ->
      """WITH e AS (
           SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         deg AS (
           SELECT node, count(*)::BIGINT AS deg FROM (
             SELECT x AS node FROM e UNION ALL SELECT y AS node FROM e)
           GROUP BY node),
         orp AS (
           SELECT CASE WHEN dx.deg < dy.deg
                         OR (dx.deg = dy.deg AND e.x < e.y)
                       THEN e.x ELSE e.y END AS src,
                  CASE WHEN dx.deg < dy.deg
                         OR (dx.deg = dy.deg AND e.x < e.y)
                       THEN e.y ELSE e.x END AS dst
           FROM e JOIN deg dx ON dx.node = e.x
                  JOIN deg dy ON dy.node = e.y),
         tri AS (
           SELECT a.src AS u, a.dst AS v, b.dst AS w
           FROM orp a JOIN orp b ON a.src = b.src AND a.dst < b.dst
           JOIN e ON e.x = a.dst AND e.y = b.dst),
         nodes AS (
           SELECT unnest([u, v, w]) AS node FROM tri)
         SELECT node, count(*)::BIGINT AS n_triangles
         FROM nodes GROUP BY node
         ORDER BY n_triangles DESC, node LIMIT 20""",

    // Both legs replayed: the SAME deterministic edge sample (md5
    // threshold), the same degree-oriented closure on each edge set —
    // hash equality proves sample, estimator and exact companion.
    "q224_triangle_doulion" ->
      s"""WITH e0 AS (
            SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey),
          es AS (
            SELECT x, y FROM e0
            WHERE CAST('0x' || substr(md5(x::VARCHAR || '_' ||
                    y::VARCHAR || '_doulion'), 1, 15) AS BIGINT)
                  < ${(1L << 60) / 8L}),
          degs AS (
            SELECT node, count(*)::BIGINT AS deg FROM (
              SELECT x AS node FROM es UNION ALL SELECT y AS node FROM es)
            GROUP BY node),
          orps AS (
            SELECT CASE WHEN dx.deg < dy.deg
                          OR (dx.deg = dy.deg AND es.x < es.y)
                        THEN es.x ELSE es.y END AS src,
                   CASE WHEN dx.deg < dy.deg
                          OR (dx.deg = dy.deg AND es.x < es.y)
                        THEN es.y ELSE es.x END AS dst
            FROM es JOIN degs dx ON dx.node = es.x
                    JOIN degs dy ON dy.node = es.y),
          tris AS (
            SELECT count(*)::BIGINT AS c
            FROM orps a JOIN orps b ON a.src = b.src AND a.dst < b.dst
            JOIN es ON es.x = a.dst AND es.y = b.dst),
          dege AS (
            SELECT node, count(*)::BIGINT AS deg FROM (
              SELECT x AS node FROM e0 UNION ALL SELECT y AS node FROM e0)
            GROUP BY node),
          orpe AS (
            SELECT CASE WHEN dx.deg < dy.deg
                          OR (dx.deg = dy.deg AND e0.x < e0.y)
                        THEN e0.x ELSE e0.y END AS src,
                   CASE WHEN dx.deg < dy.deg
                          OR (dx.deg = dy.deg AND e0.x < e0.y)
                        THEN e0.y ELSE e0.x END AS dst
            FROM e0 JOIN dege dx ON dx.node = e0.x
                    JOIN dege dy ON dy.node = e0.y),
          trie AS (
            SELECT count(*)::BIGINT AS c
            FROM orpe a JOIN orpe b ON a.src = b.src AND a.dst < b.dst
            JOIN e0 ON e0.x = a.dst AND e0.y = b.dst)
          SELECT (SELECT count(*) FROM es)::BIGINT AS n_edges_sampled,
                 (SELECT c FROM tris) AS n_tri_sampled,
                 (SELECT c FROM tris) * 512 AS n_est,
                 (SELECT c FROM trie) AS n_exact,
                 (SELECT c FROM tris) * 512 - (SELECT c FROM trie)
                   AS err""",
    "q226_kcore" -> {
      // the Spark side's 6 peel rounds, unrolled as chained CTEs
      val rounds = (1 to 6).map { r =>
        s"""k$r AS (SELECT src FROM e${r - 1}
                    GROUP BY src HAVING count(*) >= 3),
            e$r AS (SELECT e.src, e.dst FROM e${r - 1} e
                    JOIN k$r a ON e.src = a.src
                    JOIN k$r b ON e.dst = b.src)"""
      }.mkString(",\n")
      s"""WITH pairs AS (
            SELECT DISTINCT o_custkey AS a, l_suppkey + 1000000 AS b
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          e0 AS (SELECT a AS src, b AS dst FROM pairs
                 UNION ALL SELECT b AS src, a AS dst FROM pairs),
          $rounds
          SELECT src AS node, count(*)::BIGINT AS deg FROM e6
          GROUP BY src ORDER BY node"""
    },
    "q227_label_prop" -> {
      // 3 synchronous rounds: plurality neighbor label + self-vote,
      // min-label tie-break — the identical vote/rank expressions
      val rounds = (1 to 3).map { r =>
        s"""v$r AS (SELECT e.src AS node, l.lbl
                    FROM e JOIN l${r - 1} l ON e.dst = l.node
                    UNION ALL SELECT node, lbl FROM l${r - 1}),
            c$r AS (SELECT node, lbl, count(*) AS c FROM v$r
                    GROUP BY node, lbl),
            l$r AS (SELECT node, lbl FROM (
                      SELECT node, lbl, row_number() OVER (
                        PARTITION BY node ORDER BY c DESC, lbl) AS rn
                      FROM c$r) WHERE rn = 1)"""
      }.mkString(",\n")
      s"""WITH pairs AS (
            SELECT DISTINCT o_custkey AS a, l_suppkey + 1000000 AS b
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          e AS (SELECT a AS src, b AS dst FROM pairs
                UNION ALL SELECT b AS src, a AS dst FROM pairs),
          l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
          $rounds
          SELECT lbl, count(*)::BIGINT AS n_members, min(node) AS min_node
          FROM l3 GROUP BY lbl ORDER BY n_members DESC, lbl"""
    },
    "q247_parameterized_sql" ->
      // the same query with the parameters inlined as literals —
      // binding must change nothing
      """SELECT o_orderpriority, count(1) AS n_orders,
           min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1995-01-01'
           AND o_orderdate < TIMESTAMP '1996-01-01'
           AND o_orderstatus = 'F'
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",
    "q241_sql_udf" ->
      // the UDF body, expanded inline — pins definition-then-call
      // ≡ direct expression
      s"""SELECT l_returnflag,
            ${Q.dsumAtSql(
              "l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)" +
                " * (CAST(1.0 AS DOUBLE) + l_tax)", 6)} AS net_revenue,
            count(1) AS n_lines
          FROM lineitem
          GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q242_collated_groupby" ->
      """WITH t AS (
           SELECT CASE WHEN doc_id % 2 = 0 THEN upper(source)
                       ELSE source END AS mixed
           FROM documents)
         SELECT min(mixed) AS variant_min,
                count(1)::BIGINT AS n_docs,
                count(DISTINCT mixed)::BIGINT AS n_variants
         FROM t GROUP BY lower(mixed) ORDER BY variant_min""",
    "q237_degree_assort" ->
      """WITH pairs AS (
           SELECT DISTINCT o_custkey AS a, l_suppkey + 1000000 AS b
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         e AS (SELECT a AS src, b AS dst FROM pairs
               UNION ALL SELECT b AS src, a AS dst FROM pairs),
         deg AS (SELECT src AS node, count(*)::BIGINT AS d
                 FROM e GROUP BY src),
         p AS (SELECT CAST(dx.d AS DECIMAL(19,0)) AS x,
                      CAST(dy.d AS DECIMAL(19,0)) AS y
               FROM e JOIN deg dx ON e.src = dx.node
                      JOIN deg dy ON e.dst = dy.node),
         m AS (SELECT count(*)::BIGINT AS n_edges,
                      CAST(sum(x) AS DOUBLE) AS sx,
                      CAST(sum(y) AS DOUBLE) AS sy,
                      CAST(sum(x * y) AS DOUBLE) AS sxy,
                      CAST(sum(x * x) AS DOUBLE) AS sxx,
                      CAST(sum(y * y) AS DOUBLE) AS syy
               FROM p)
         SELECT n_edges,
                round((n_edges::DOUBLE * sxy - sx * sy) /
                  (sqrt(n_edges::DOUBLE * sxx - sx * sx) *
                   sqrt(n_edges::DOUBLE * syy - sy * sy)), 6) AS r_assort
         FROM m""",
    "q110_snapshot_diff" ->
      """WITH o AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey % 13 <> 0),
         n AS (
           SELECT o_orderkey, o_orderstatus,
                  CASE WHEN o_orderkey % 7 = 0
                       THEN o_totalprice + CAST(10.0 AS DOUBLE)
                       ELSE o_totalprice END AS o_totalprice
           FROM orders WHERE o_orderkey % 10 <> 0),
         j AS (
           SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                  o.o_orderstatus AS old_o_orderstatus,
                  n.o_orderstatus AS new_o_orderstatus,
                  o.o_totalprice AS old_o_totalprice,
                  n.o_totalprice AS new_o_totalprice,
                  o.o_orderkey IS NOT NULL AS in_old,
                  n.o_orderkey IS NOT NULL AS in_new
           FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
         SELECT o_orderkey,
                CASE WHEN NOT in_old THEN 'insert'
                     WHEN NOT in_new THEN 'delete'
                     ELSE 'update' END AS change_type,
                old_o_orderstatus, new_o_orderstatus,
                old_o_totalprice, new_o_totalprice
         FROM j
         WHERE NOT in_old OR NOT in_new
            OR old_o_orderstatus IS DISTINCT FROM new_o_orderstatus
            OR old_o_totalprice IS DISTINCT FROM new_o_totalprice
         ORDER BY o_orderkey""",
    "q111_quality_audit" ->
      """SELECT * FROM (
           SELECT 'fk_lineitem_orders' AS check_name,
                  (SELECT count(*) FROM lineitem c
                   WHERE NOT EXISTS (SELECT 1 FROM orders p
                                     WHERE p.o_orderkey = c.l_orderkey))
                    ::BIGINT AS n_violations,
                  (SELECT count(*) FROM lineitem)::BIGINT AS n_checked
           UNION ALL
           SELECT 'fk_orders_customer',
                  (SELECT count(*) FROM orders c
                   WHERE NOT EXISTS (SELECT 1 FROM customer p
                                     WHERE p.c_custkey = c.o_custkey))
                    ::BIGINT,
                  (SELECT count(*) FROM orders)::BIGINT
           UNION ALL
           SELECT 'fk_lineitem_part',
                  (SELECT count(*) FROM lineitem c
                   WHERE NOT EXISTS (SELECT 1 FROM part p
                                     WHERE p.p_partkey = c.l_partkey))
                    ::BIGINT,
                  (SELECT count(*) FROM lineitem)::BIGINT
           UNION ALL
           SELECT 'notnull_events_user',
                  (SELECT count(*) FROM events WHERE user_id IS NULL)
                    ::BIGINT,
                  (SELECT count(*) FROM events)::BIGINT
           UNION ALL
           SELECT 'unique_customer_pk',
                  (SELECT count(*) - count(DISTINCT c_custkey)
                   FROM customer)::BIGINT,
                  (SELECT count(*) FROM customer)::BIGINT
           UNION ALL
           SELECT 'range_lineitem_discount',
                  (SELECT count(*) FROM lineitem
                   WHERE l_discount < 0.0 OR l_discount > 1.0)::BIGINT,
                  (SELECT count(*) FROM lineitem)::BIGINT
           UNION ALL
           SELECT 'range_lineitem_quantity',
                  (SELECT count(*) FROM lineitem WHERE l_quantity <= 0.0)
                    ::BIGINT,
                  (SELECT count(*) FROM lineitem)::BIGINT)
         ORDER BY check_name""")
}
