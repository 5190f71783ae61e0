package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Graph

class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // path a-b-c-d-e plus a cycle shortcut a-c, and x-y off to the side
  private def edges = Seq(
    ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("a", "c"), ("x", "y")
  ).toDF("src", "dst")

  test("bfsHops: shortest hop counts, shortcut respected, unreachable absent") {
    val out = Graph.bfsHops(edges, "src", "dst", "a", maxHops = 10)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    // a-c direct beats a-b-c; d is 2 via the shortcut, e is 3
    assert(out == Map("a" -> 0, "b" -> 1, "c" -> 1, "d" -> 2, "e" -> 3))
  }

  test("bfsHops: maxHops truncates the frontier") {
    val out = Graph.bfsHops(edges, "src", "dst", "a", maxHops = 1)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out == Map("a" -> 0, "b" -> 1, "c" -> 1))
  }

  test("bfsHops: edges are undirected (start on the dst side)") {
    val out = Graph.bfsHops(edges, "src", "dst", "e", maxHops = 2)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out == Map("e" -> 0, "d" -> 1, "c" -> 2))
  }

  test("bfsHops: isolated start terminates with just itself") {
    val out = Graph.bfsHops(edges, "src", "dst", "zzz", maxHops = 5)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out == Map("zzz" -> 0))
  }

  private def ranksOf(df: org.apache.spark.sql.DataFrame): Map[String, Double] =
    df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("pageRank: undirected star, two hand-computed iterations") {
    val star = Seq(("h", "l1"), ("h", "l2"), ("h", "l3")).toDF("src", "dst")
    // N=4, d=0.85, r0=0.25 each; r1(h)=0.0375+0.85*0.75=0.675,
    // r1(l)=0.0375+0.85*(0.25/3); r2(h)=0.0375+0.85*3*r1(l)=0.31375,
    // r2(l)=0.0375+0.85*(0.675/3)=0.22875; mean-normalized *4
    val out = ranksOf(Graph.pageRank(star, "src", "dst", iters = 2))
    assert(math.abs(out("h") - 1.255) < 1e-9)
    for (l <- Seq("l1", "l2", "l3")) assert(math.abs(out(l) - 0.915) < 1e-9)
  }

  test("pageRank: symmetric pair is uniform; total mass is conserved") {
    val out = ranksOf(Graph.pageRank(Seq(("a", "b")).toDF("src", "dst"),
      "src", "dst", iters = 5))
    assert(out.values.forall(v => math.abs(v - 1.0) < 1e-12))
    // undirected ⇒ no dangling mass: mean-normalized ranks sum to N
    val big = ranksOf(Graph.pageRank(edges, "src", "dst", iters = 5))
    assert(math.abs(big.values.sum - big.size) < 1e-9)
  }

  test("pageRank: directed mode keeps edge direction (dangling sink)") {
    // a -> b only: b never sends rank back; after 1 iter
    // r1(a)=0.075 (pure teleport), r1(b)=0.075+0.85*0.5=0.5; *2
    val out = ranksOf(Graph.pageRank(Seq(("a", "b")).toDF("src", "dst"),
      "src", "dst", iters = 1, undirected = false))
    assert(math.abs(out("a") - 0.15) < 1e-12)
    assert(math.abs(out("b") - 1.0) < 1e-12)
  }

  private def triMap(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
    df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("triangleCounts: complete K4 — every node in C(3,2)=3 triangles") {
    val k4 = (for (u <- 1 to 4; v <- (u + 1) to 4) yield (u, v)).toDF("s", "d")
    val out = triMap(Graph.triangleCounts(k4, "s", "d"))
    assert(out == (1L to 4L).map(n => n -> (3L, 3L)).toMap)
  }

  test("triangleCounts: square plus one diagonal — two triangles") {
    // 1-2-3-4-1 with diagonal 1-3: triangles {1,2,3} and {1,3,4};
    // nodes 1,3 in both, nodes 2,4 in one
    val g = Seq((1, 2), (2, 3), (3, 4), (4, 1), (1, 3)).toDF("s", "d")
    val out = triMap(Graph.triangleCounts(g, "s", "d"))
    assert(out == Map(1L -> (3L, 2L), 2L -> (2L, 1L),
      3L -> (3L, 2L), 4L -> (2L, 1L)))
  }

  test("triangleCounts: hub star has zero triangles; leaves reported") {
    val star = Seq((9, 1), (9, 2), (9, 3), (9, 4)).toDF("s", "d")
    val out = triMap(Graph.triangleCounts(star, "s", "d"))
    assert(out(9L) == (4L, 0L))
    assert((1L to 4L).forall(out(_) == (1L, 0L)))
  }

  test("triangleCounts: duplicate, reversed, and self-loop edges collapse") {
    val noisy = Seq((1, 2), (2, 1), (1, 2), (2, 3), (1, 3), (3, 3)).toDF("s", "d")
    val out = triMap(Graph.triangleCounts(noisy, "s", "d"))
    assert(out == Map(1L -> (2L, 1L), 2L -> (2L, 1L), 3L -> (2L, 1L)))
  }

  test("neighborJaccard: hand-computed overlap and minCommon cut") {
    // e1 items {a,b,c}, e2 items {b,c,d}, e3 items {z}
    val rel = Seq((1, "a"), (1, "b"), (1, "c"), (2, "b"), (2, "c"), (2, "d"),
      (3, "z")).toDF("e", "i")
    val out = Graph.neighborJaccard(rel, "e", "i", minCommon = 1L).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))
      == ((1, 2, 2L, 3L, 3L)))
    assert(math.abs(r.getDouble(5) - 0.5) < 1e-15) // 2/(3+3-2)
    // floor above the overlap removes the pair
    assert(Graph.neighborJaccard(rel, "e", "i", minCommon = 3L).count() == 0)
  }

  test("neighborJaccard: maxItemDeg prune lower-bounds common, keeps true degrees") {
    // item "hot" shared by all three entities; 1 and 2 also share "q"
    val rel = Seq((1, "hot"), (2, "hot"), (3, "hot"), (1, "q"), (2, "q"))
      .toDF("e", "i")
    val exact = Graph.neighborJaccard(rel, "e", "i", minCommon = 1L)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(exact == Map((1, 2) -> 2L, (1, 3) -> 1L, (2, 3) -> 1L))
    // cap at 2 drops "hot" from candidate gen: only (1,2) survives via "q",
    // its common undercounts to 1 but degrees stay the unpruned 2 and 2
    val pruned = Graph.neighborJaccard(rel, "e", "i", minCommon = 1L,
      maxItemDeg = 2L).collect()
    assert(pruned.length == 1)
    val p = pruned.head
    assert((p.getInt(0), p.getInt(1), p.getLong(2), p.getLong(3), p.getLong(4))
      == ((1, 2, 1L, 2L, 2L)))
  }

  test("coOccurrencePairs: hub cap bounds the wedge blowup, sub-cap pairs exact") {
    // planted hub: item "hot" shared by ALL five entities would alone
    // contribute C(5,2)=10 wedges — the single-key quadratic axis the
    // cap exists for; entities 1,2 also share two quiet items
    val rel = Seq((1, "hot"), (2, "hot"), (3, "hot"), (4, "hot"), (5, "hot"),
      (1, "q1"), (2, "q1"), (1, "q2"), (2, "q2")).toDF("e", "i")
    val exact = Graph.coOccurrencePairs(rel, "e", "i", minShared = 1L)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(exact.size == 10 && exact((1, 2)) == 3L && exact((3, 4)) == 1L)
    // cap below the hub degree: hub-only pairs vanish entirely, the
    // quiet pair survives with its sub-cap shared count intact (a
    // lower bound of the true 3 — the documented trade)
    val capped = Graph.coOccurrencePairs(rel, "e", "i", minShared = 1L,
      maxItemDeg = 4L)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(capped == Map((1, 2) -> 2L))
    // dedup: duplicate (e, i) rows never double-count a shared item
    val dup = rel.union(rel)
    val dd = Graph.coOccurrencePairs(dup, "e", "i", minShared = 3L)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(dd == Map((1, 2) -> 3L))
  }

  test("kCoreBounded: tail chain peels in cascading rounds, clique survives") {
    // 4-clique {1,2,3,4} plus a tail 4-5-6: node 6 falls in round 1
    // (degree 1 < 2), which DEMOTES 5 to degree 1 → falls in round 2 —
    // the cascade is why peeling iterates
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val out = Graph.kCoreBounded(edges, "a", "b", k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $out")
    // one round is NOT enough: 5 still present (degree 2 incl. the
    // not-yet-peeled 6... after 6 drops, 5 has degree 1 but survives
    // the single round that removed 6's edges only at the NEXT degree
    // recount)
    val oneRound = Graph.kCoreBounded(edges, "a", "b", k = 2, rounds = 1)
      .collect().map(_.getLong(0)).toSet
    assert(oneRound.contains(5L), s"round 1 must not yet peel node 5: $oneRound")
    // converged rounds are no-ops: more rounds give the identical core
    val more = Graph.kCoreBounded(edges, "a", "b", k = 2, rounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(more == out)
    // k above the clique degree empties the graph
    assert(Graph.kCoreBounded(edges, "a", "b", k = 4, rounds = 5).count() == 0)
  }

  test("checkpoint backends are value-identical: default local DISK_ONLY " +
    "vs reliable spark.graft.checkpointDir") {
    // the backend only moves WHERE cuts live (executor blocks or durable
    // files); results must not depend on it
    val kedges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    def all(): Seq[Set[Seq[Any]]] = Seq(
      Graph.bfsHops(edges, "src", "dst", "a", maxHops = 10),
      Graph.pageRank(edges, "src", "dst", iters = 3),
      Graph.triangleCounts(kedges, "a", "b"),
      Graph.kCoreBounded(kedges, "a", "b", k = 2, rounds = 3)
    ).map { df =>
      val rows = df.collect().map(_.toSeq).toSet
      graft.operators.Ckpt.releaseResult(df)
      rows
    }
    val local = all()
    val dir = java.nio.file.Files.createTempDirectory("graft-graph-ckpt-").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    val rel = try all() finally {
      spark.conf.unset("spark.graft.checkpointDir")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
    for (((l, r), i) <- local.zip(rel).zipWithIndex)
      assert(l == r, s"operator $i differs across checkpoint backends")
  }

  test("coOccurrencePairs: null entity ids pair with nothing, in the " +
    "uncapped join tier and the capped exec tier alike") {
    // item 10 is shared by 3 real entities and a null one: with the cap
    // at 3 the null must not push the bucket over it; item 20 pairs a
    // null with entity 1 only
    val rel = Seq[(java.lang.Long, Long)]((1L, 10L), (2L, 10L), (3L, 10L),
      (null, 10L), (1L, 20L), (null, 20L), (2L, 30L), (3L, 30L))
      .toDF("e", "i")
    def pairs(cap: Long) = Graph.coOccurrencePairs(rel, "e", "i",
        minShared = 1, maxItemDeg = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expect = Set((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 2L))
    assert(pairs(0L) == expect, "uncapped (join) tier")
    assert(pairs(3L) == expect, "capped (exec) tier")
  }
}
