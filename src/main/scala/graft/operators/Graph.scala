package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph traversal over an edge relation — the layer above
  * [[Dedup.dupClusters]]'s connected components: CC answers "which
  * nodes touch at all", BFS answers "how far apart are they", which is
  * what link-graph crawl-frontier analysis and entity-neighborhood
  * expansion actually ask.
  *
  * Checkpoints: the iterative members cut lineage every round through
  * a [[CkptChain]] — local DISK_ONLY blocks by default, reliable files
  * under the session conf `spark.graft.checkpointDir` (see [[Ckpt]]).
  * Superseded rounds are released as soon as their successor
  * materializes, so a loop holds O(1) checkpoints, not O(rounds). The
  * single final cut that backs the returned DataFrame outlives the
  * call by necessity; callers free it with [[Ckpt.releaseResult]] once
  * the result is consumed.
  */
object Graph {

  /** Breadth-first hop distances from `start` over an undirected edge
    * list, bounded at `maxHops`. Returns (node, hops) with hops =
    * minimum hop count, 0 for the start node; nodes beyond `maxHops`
    * are absent.
    *
    * EAGER: runs Spark jobs at call time (each frontier round is
    * checkpoint-materialized and emptiness-tested), not at first action
    * on the returned DataFrame.
    *
    * Scale shape: per level, ONE equi-join of the (symmetrized) edge
    * relation against the current frontier on the node key, a distinct
    * to collapse parallel paths, and an anti-join against the visited
    * set so no node re-expands — the frontier relation is
    * reachable-set-sized, never path-count-sized. The driver loop runs
    * a bounded `maxHops` iterations (the dupClusters precedent);
    * frontiers are checkpointed so lineage stays flat, superseded
    * rounds released as soon as the next materializes.
    *
    * `edgesDistinctDisjoint`: set when `edges` is already duplicate-free
    * AND no edge appears in both orientations (e.g. a bipartite graph
    * whose two sides use disjoint key prefixes) — the symmetrized union
    * is then provably duplicate-free and the post-union `distinct()`
    * (a full shuffle+dedup of the LARGEST relation in the whole
    * traversal) is skipped. Correctness without the flag is unchanged;
    * BFS itself tolerates duplicate edges (the per-level `distinct()`
    * collapses parallel paths), so the flag only trades one redundant
    * exchange, never answers. */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              start: String, maxHops: Int,
              edgesDistinctDisjoint: Boolean = false): DataFrame = {
    require(maxHops >= 0 && maxHops <= 32, s"unreasonable maxHops $maxHops")
    val ch = new CkptChain(edges.sparkSession)
    // a mid-loop failure must not strand held rounds (in reliable mode:
    // durable files with no owner) — release everything and rethrow
    try {
    val sym = edges
      .select(col(srcCol).cast("string").as("a"), col(dstCol).cast("string").as("b"))
      .unionAll(edges
        .select(col(dstCol).cast("string").as("a"), col(srcCol).cast("string").as("b")))
    val und = (if (edgesDistinctDisjoint) sym else sym.distinct())
      .transform(ch.cut("und"))
    import edges.sparkSession.implicits._
    var visited = Seq((start, 0)).toDF("node", "hops").transform(ch.cut("visited"))
    var frontier = visited.select("node")
    var h = 0
    var grown = true
    while (h < maxHops && grown) {
      h += 1
      // cutCounted (round 17): the frontier-emptiness test rides out of
      // the checkpoint's materializing job — no separate isEmpty job
      val (next, n) = ch.cutCounted("next")(
        und.join(frontier, und("a") === frontier("node"))
          .select(col("b").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .withColumn("hops", lit(h)))
      if (n == 0L) grown = false
      else {
        visited = visited.unionAll(next).transform(ch.cut("visited"))
        frontier = next.select("node")
      }
    }
    ch.close("visited")
    visited
    } catch { case t: Throwable => ch.close(); throw t }
  }

  /** PageRank by bounded power iteration: `iters` rounds of
    * PR'(v) = (1-d)/N + d * Σ_{u→v} PR(u)/outdeg(u), starting from the
    * uniform 1/N vector. With `undirected = true` the edge list is
    * symmetrized first, which guarantees every node has an out-edge —
    * no dangling mass exists, so the classic formula above is exact and
    * total rank stays 1 every round. Returns (node, rank) for EVERY
    * node; `rank` is mean-normalized (multiplied by N, so 1.0 = the
    * uniform score) — callers compare importance ratios, and the O(1)
    * scale keeps downstream rounding meaningful at any graph size.
    *
    * EAGER: runs Spark jobs at call time (node count + one
    * checkpoint-materialized join/agg round per iteration), not at
    * first action on the returned DataFrame.
    *
    * Scale shape: the contribution relation (src, dst, 1/outdeg) is
    * built ONCE (one aggregation + one join) and checkpointed; each
    * iteration is then a single equi-join of the rank vector
    * (node-sized, not edge-sized) against it plus one map-side-combined
    * sum by dst — the canonical BSP step, shuffle keyed on the node id.
    * Nothing is collected to the driver; the loop is a bounded `iters`
    * (the [[bfsHops]] / dupClusters precedent), each rank vector
    * checkpointed so lineage stays flat and the superseded round
    * released once the new one materializes. Node count N is computed
    * once and folded in as a literal.
    *
    * Precondition (ADVICE r16): node ids must be non-null. Undirected
    * mode returns inflow directly (no per-round nodes join), and under
    * groupBy a null id forms a real group — so a null node would
    * accumulate inflow where the r15 null-unsafe join left it at pure
    * teleport. Every packaged caller builds ids by concat/cast of
    * non-null keys; callers with nullable id columns filter first. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, damping: Double = 0.85,
               undirected: Boolean = true,
               edgesDistinctDisjoint: Boolean = false): DataFrame = {
    require(iters >= 1 && iters <= 32, s"unreasonable iters $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val ch = new CkptChain(edges.sparkSession)
    // a mid-loop failure must not strand held rounds — release, rethrow
    try {
    val raw = edges
      .select(col(srcCol).cast("string").as("a"), col(dstCol).cast("string").as("b"))
    val sym = if (undirected)
      raw.unionAll(raw.select(col("b").as("a"), col("a").as("b"))) else raw
    // `edgesDistinctDisjoint` (round 16, the bfsHops precedent): set
    // when `edges` is already duplicate-free AND no edge appears in
    // both orientations — the symmetrized union is then provably
    // duplicate-free and the post-union `distinct()` (a full
    // shuffle+dedup of the LARGEST relation in the computation) is
    // skipped. Results are unchanged by the same argument as bfsHops.
    val dir = if (edgesDistinctDisjoint) sym else sym.distinct()
    // under the symmetrizing union the a-side alone already carries
    // every node ({a} = {b} when dir is symmetric) — half the rows
    // into the node distinct (round 16)
    // cutCounted (round 17): N rides out of the checkpoint's own
    // materializing job — the separate nodes.count() job is gone
    val (nodes, n) = ch.cutCounted("nodes")(
      (if (undirected) dir.select(col("a").as("node"))
       else dir.select(col("a").as("node"))
         .unionAll(dir.select(col("b").as("node"))))
        .distinct())
    // (a, b, w = 1/outdeg(a)): the per-edge share of a's rank
    val contrib = dir
      .join(dir.groupBy("a").agg(count(lit(1)).as("_deg")), "a")
      .select(col("a"), col("b"), (lit(1.0) / col("_deg")).as("w"))
      .transform(ch.cut("contrib"))
    var ranks = nodes.withColumn("rank", lit(1.0 / n)).transform(ch.cut("ranks"))
    for (_ <- 1 to iters) {
      val inflow = contrib
        .join(ranks, contrib("a") === ranks("node"))
        .groupBy(col("b").as("node"))
        .agg(sum(col("rank") * col("w")).as("_in"))
      // Undirected graphs need no outer extension (round 16, guide
      // §2.4): symmetrization gives every node an in-edge, so
      // inflow's node set IS the node set and the per-round
      // nodes-left-join (one SMJ + exchange per iteration in the
      // settled AQE plan — ProbePageRank, PLANS.md r11) is a no-op;
      // `_in` is a sum over a non-empty group, never null, so the old
      // coalesce(_in, 0) produced the identical value. Directed
      // graphs keep the left join: in-edge-free nodes must stay at
      // pure teleport.
      ranks = (if (undirected) inflow
        else nodes.join(inflow, Seq("node"), "left"))
        .select(col("node"),
          (lit((1.0 - damping) / n) + lit(damping) * coalesce(col("_in"), lit(0.0)))
            .as("rank"))
        .transform(ch.cut("ranks"))
    }
    ch.close("ranks")
    ranks.select(col("node"), (col("rank") * n).as("rank"))
    } catch { case t: Throwable => ch.close(); throw t }
  }

  /** Per-node triangle counts over an undirected simple graph given as
    * a (src, dst) long-keyed edge list (self-loops and duplicate /
    * reversed copies are collapsed here). Returns (node, degree,
    * triangles) for every node incident to at least one edge.
    *
    * Algorithm: degree orientation ("compact-forward"). Each undirected
    * edge {u, v} is oriented from the endpoint with the smaller
    * (degree, id) pair to the larger. Every triangle {a, b, c} then has
    * exactly ONE wedge a→b, a→c with (b, c) also oriented b→c, so one
    * self-join of the oriented list on its source enumerates each
    * triangle once, and a semi-check join against the oriented list
    * closes it. Per-node counts come from exploding each triangle into
    * its three corners — a map-side-combinable count keyed by node.
    *
    * Scale shape: orientation bounds the wedge fan-out — a node's
    * oriented out-degree is O(sqrt(m)) on any graph (classic
    * compact-forward bound), so the wedge self-join cannot explode on a
    * hub the way a naive neighbor-pair join does; every join and
    * aggregation is keyed on 8-byte node ids. No driver-side state, no
    * global sort. Not iterative — its two cuts (the deduped edge list
    * and the oriented list) BOTH back the returned plan, so there is
    * nothing to release before the caller is done with the result. */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .transform(Ckpt.cut)
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    // orient by (degree, id): lower endpoint -> higher endpoint
    val oriented = und
      .join(deg.select(col("node").as("u"), col("degree").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("degree").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("lo"),
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("hi"))
      .transform(Ckpt.cut)
    // wedges lo -> {b, c} with b before c in orientation order need no
    // explicit tie-break: orientation is a strict total order restricted
    // to edges, so requiring the closing edge (b -> c) oriented picks
    // exactly one of the two wedge orders
    val e1 = oriented.select(col("lo").as("a"), col("hi").as("b"))
    val e2 = oriented.select(col("lo").as("a"), col("hi").as("c"))
    val wedges = e1.join(e2, "a").filter(col("b") =!= col("c"))
    val closing = oriented.select(col("lo").as("b"), col("hi").as("c"))
    val tris = wedges.join(closing, Seq("b", "c"))
    val corners = tris.select(col("a").as("node"))
      .unionAll(tris.select(col("b").as("node")))
      .unionAll(tris.select(col("c").as("node")))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(corners, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** Neighborhood Jaccard over a bipartite (entity, item) relation —
    * the link-prediction / collaborative-filtering similarity: two
    * entities are as similar as the overlap of their item sets.
    * Returns (id_a, id_b, common, deg_a, deg_b, jaccard) for every
    * entity pair sharing at least `minCommon` items, with id_a < id_b;
    * `jaccard` = common / (deg_a + deg_b - common), a division of
    * exact integer counts (deterministic across engines — no float
    * accumulation order).
    *
    * Scale shape: candidate pairs come from ONE self-join keyed on the
    * item id (only entities sharing an item ever meet — never the n²
    * entity cross product); degrees are an entity-sized aggregate
    * joined back by entity id. The skew axis is a super-frequent item
    * (every entity pair under it becomes a wedge) — the caller caps it
    * with `maxItemDeg`, dropping items shared by more than that many
    * entities before pairing, the stopword-prune standard in
    * set-similarity joins (such items add near-zero Jaccard signal but
    * quadratic wedges). 0 disables the cap. With the cap on, `common`
    * counts only the sub-cap shared items, so the reported jaccard is a
    * LOWER BOUND of the true value (degrees stay unpruned) — the usual
    * accuracy/cost trade of frequent-item pruning; 0 keeps it exact, and
    * so does a cap above `Int.MaxValue` (it takes the uncapped path). A
    * negative cap throws `IllegalArgumentException`. */
  def neighborJaccard(rel: DataFrame, entityCol: String, itemCol: String,
                      minCommon: Long, maxItemDeg: Long = 0L): DataFrame = {
    require(maxItemDeg >= 0, s"maxItemDeg must be >= 0 (0 = no cap), got $maxItemDeg")
    val b = rel.select(col(entityCol).as("e"), col(itemCol).as("i")).distinct()
      .transform(Ckpt.cut)
    val deg = b.groupBy(col("e").as("node")).agg(count(lit(1)).as("d"))
    val pairs = pairsFromDeduped(b, minCommon, maxItemDeg)
    // no broadcast hint: deg is entity-sized, which a 100 TB corpus can
    // push past broadcast range — these are plain equi-joins on the
    // entity id and AQE broadcasts them when they do fit
    pairs
      .join(deg.select(col("node").as("id_a"), col("d").as("deg_a")), "id_a")
      .join(deg.select(col("node").as("id_b"), col("d").as("deg_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("common"), col("deg_a"), col("deg_b"),
        (col("common").cast("double") /
          (col("deg_a") + col("deg_b") - col("common"))).as("jaccard"))
  }

  /** Co-occurrence candidate pairs: every entity pair sharing at least
    * `minShared` items, as (id_a, id_b, common) with id_a < id_b — the
    * shared pairing machinery behind [[neighborJaccard]] (c101) and the
    * c104 co-purchase edge build. The skew axis is a super-frequent
    * item: one item shared by m entities contributes C(m,2) pairs, so a
    * hot key at 100× data is a quadratic blowup AND a single-key
    * shuffle skew. `maxItemDeg` drops items shared by more than that
    * many entities BEFORE pairing (the set-similarity stopword prune);
    * with the cap on, `common` counts only sub-cap shared items, so
    * downstream thresholds see a LOWER BOUND of the true shared count —
    * the usual accuracy/cost trade of frequent-item pruning. 0 disables
    * the cap (exact), and so does a cap above `Int.MaxValue` (it takes
    * the uncapped path). A negative cap throws `IllegalArgumentException`. */
  def coOccurrencePairs(rel: DataFrame, entityCol: String, itemCol: String,
                        minShared: Long, maxItemDeg: Long = 0L): DataFrame = {
    require(maxItemDeg >= 0, s"maxItemDeg must be >= 0 (0 = no cap), got $maxItemDeg")
    val b = rel.select(col(entityCol).as("e"), col(itemCol).as("i")).distinct()
    pairsFromDeduped(b, minShared, maxItemDeg)
  }

  /** Pairing core over an already-deduped (e, i) relation: candidate
    * pairs come from intra-bucket pairing keyed on the item id (only
    * entities sharing an item ever meet — never the n² entity cross
    * product).
    *
    * Round 16 (guide §2.4): the pairing runs through the
    * single-exchange [[graft.plans.SelfPairsByKey]] exec instead of the
    * self-equi-join idiom — the join shuffled (or broadcast) the SAME
    * banded relation TWICE and materialized each bucket's m×m cross
    * product before filtering half away; the exec plans exactly ONE
    * exchange of the skinny (i, e) relation and emits each bucket's
    * C(m,2) ordered pairs directly (the round-9 measured 2.4× on the
    * dedup candidate stage, applied to the graph tier). Semantics are
    * identical on the deduped input: the exec's `maxBucket` keeps
    * buckets of raw size <= cap — exactly the old `count <= maxItemDeg`
    * keep-filter — and its strict `id_a < id_b` under the id type's
    * natural ordering matches the join's `x.e < y.e`. Null item keys
    * and null entity ids are filtered first, once, before both tiers:
    * the equi-join never matched a null item nor paired a null entity
    * (`x.e < y.e` is null), while the exec would bucket null items
    * together and count a null entity toward a bucket's capped size. */
  private def pairsFromDeduped(b: DataFrame, minShared: Long,
                               maxItemDeg: Long): DataFrame = {
    val deduped = b.filter(col("i").isNotNull && col("e").isNotNull)
    // a cap above Int.MaxValue is semantically "no prune" — route it to
    // the unbounded path instead of failing (ADVICE r16)
    val paired =
      if (maxItemDeg > 0 && maxItemDeg <= Int.MaxValue)
        // capped (c104's edge build, the dedup/LSH tiers): the cap
        // itself bounds every bucket, so the single-exchange exec is
        // skew-bounded by construction — and measured 1.19× faster
        // than the join at sf10 (tools/ProbeGraphAB r17, min-of-4
        // interleaved: 16.94 vs 20.23 s)
        graft.plans.SelfPairsByKey
          .selfPairsByKey(deduped, Seq("i"), "e", maxBucket = maxItemDeg.toInt)
          .groupBy(col("id_a"), col("id_b"))
          .agg(count(lit(1)).as("common"))
      else
        // UNCAPPED (c100/c101, round 17 — VERDICT r16 #3): back to the
        // self-equi-join idiom. The exec emits a bucket's C(m,2) pairs
        // on ONE task and its custom ClusteredDistribution is invisible
        // to AQE's skew-join splitting, so a viral item at 100 TB is a
        // straggler-or-OOM; the join shape lets AQE split a hot key's
        // oversized partition at runtime. A block-decomposed exec
        // variant was built and measured this round and REJECTED: the
        // bucket-size pre-pass + hot/cold split cost 0.85 s at sf0.1
        // and ~7 s at sf10 over the join (probe log in
        // OPTIMIZATION_r17.md), while join vs plain exec is a wash at
        // both SFs here (sf0.1 3.54 vs 3.56; sf10 min 19.11 vs 16.99
        // but within the arms' rep spread) — skew safety comes free
        // with the join, so it wins the uncapped tier.
        deduped.as("x")
          .join(deduped.as("y"),
            col("x.i") === col("y.i") && col("x.e") < col("y.e"))
          .groupBy(col("x.e").as("id_a"), col("y.e").as("id_b"))
          .agg(count(lit(1)).as("common"))
    paired.filter(col("common") >= minShared)
  }

  /** Bounded-round k-core peeling: repeatedly drop nodes of degree < k
    * from the undirected graph for exactly `rounds` rounds, then return
    * the surviving nodes with their within-subgraph degree. The dense-
    * community extractor (link-spam cores, coordinated-crawl rings);
    * dropping a weak node can demote its neighbors, which is why peeling
    * iterates. Exactly-`rounds` (not to-fixpoint) is deliberate: both
    * engines — and any two cluster runs — execute the identical bounded
    * computation, the honest form at corpus scale where a pathological
    * chain graph would need O(n) peels; real co-occurrence graphs settle
    * in a handful. A converged round is a no-op, so extra rounds never
    * change the answer — which is also why the implementation may skip
    * them once the edge count fixes (see the inline note below).
    *
    * EAGER: runs Spark jobs at call time (the symmetrized edge relation
    * is checkpoint-materialized and counted before the loop, then one
    * count per executed round drives the convergence exit), not at
    * first action on the returned DataFrame.
    *
    * Scale shape: per round ONE degree aggregation keyed by the 8-byte
    * node id and TWO semi-joins of the edge relation against the
    * surviving-node set — edge-relation-sized shuffles that SHRINK
    * monotonically; per-round checkpoints keep lineage flat (the BFS
    * discipline), each released when the next round materializes. No
    * driver-side state, no global sort. */
  def kCoreBounded(edges: DataFrame, srcCol: String, dstCol: String,
                   k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 64, s"unreasonable rounds $rounds")
    val ch = new CkptChain(edges.sparkSession)
    // a mid-loop failure must not strand held rounds — release, rethrow
    try {
    // self-loop filter AFTER the symmetrizing union: filtering only the
    // forward orientation let a loop re-enter via the reversed branch
    // and inflate its node's degree by one (caught by the round-12
    // generative peel test; production c104 inputs are id_a < id_b
    // pairs, which can never loop)
    // cutCounted (round 17, VERDICT r16 #6): every round's edge count —
    // the convergence signal — rides out of the checkpoint's own
    // materializing job, so a peel round is ONE Spark job, not
    // cut + count
    var (e, prev0) = ch.cutCounted("e")(edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .unionAll(edges.select(col(dstCol).cast("long").as("u"),
        col(srcCol).cast("long").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct())
    // Early exit on convergence (round 12): the peel only ever REMOVES
    // edges, so an unchanged edge count proves the edge SET is
    // unchanged — a fixed point, after which every remaining round
    // recomputes the identical relation. Skipping those rounds is
    // value-identical by that argument (and stays pinned by the
    // randomized-rounds generative peel test). The per-round count runs
    // on the just-checkpointed relation — one scan-and-count job, no
    // shuffle — vs a whole degree-agg + two-semi-join + checkpoint
    // round saved whenever the budget outlives the peel. Probed at
    // sf0.1 (ProbeKCore, PLANS.md round 12): c104's graph never
    // converges inside its 8-round budget (28 686 → 5 534 directed
    // edges, still shrinking), so there the exit never fires and the
    // A/B reads as a wash (count overhead below run noise); kept for
    // the asymmetric payoff on peels that DO converge under budget and
    // for the empty-graph short-circuit.
    var prev = prev0
    var r = 0
    // Round-16 round shape (guide §2.4): per-round degrees come from
    // TWO window counts (partitionBy u, then v) instead of a degree
    // aggregation + two semi-joins — a row survives iff
    // deg(u) >= k AND deg(v) >= k, exactly the old keep-set
    // membership test (e is duplicate-free, so the window row count
    // IS the degree). The old shape planned ~5 exchanges per round in
    // the settled AQE plan (the post-checkpoint edge relation
    // re-shuffled for each SMJ semi-join plus the agg and keep-set
    // exchanges — no broadcasts: a cut relation carries default
    // stats); the window shape plans exactly TWO exchanges of the
    // edge relation per round and nothing else. Skew exposure is
    // unchanged: the semi-join already co-located each hub's rows on
    // one task to probe the keep set.
    val wu = org.apache.spark.sql.expressions.Window.partitionBy("u")
    val wv = org.apache.spark.sql.expressions.Window.partitionBy("v")
    while (r < rounds && prev > 0) {
      val (e2, cur) = ch.cutCounted("e")(
        e.withColumn("_du", count(lit(1)).over(wu))
          .withColumn("_dv", count(lit(1)).over(wv))
          .filter(col("_du") >= k && col("_dv") >= k)
          .select("u", "v"))
      e = e2
      r = if (cur == prev) rounds else r + 1
      prev = cur
    }
    ch.close("e")
    e.groupBy(col("u").as("node")).agg(count(lit(1)).as("degree"))
    } catch { case t: Throwable => ch.close(); throw t }
  }
}
