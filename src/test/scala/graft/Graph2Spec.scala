package graft

import graft.graph.Graph
import org.apache.spark.sql.functions._

/** Closeness/eccentricity/harmonic + Katz on a hand-drawn path graph. */
class Graph2Spec extends SparkSpec {
  import spark.implicits._

  // undirected path a—b—c—d (both edge directions materialized)
  private def path = {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d"))
    (e ++ e.map(_.swap)).toDF("src", "dst")
  }

  test("closeness/ecc on a path with all nodes as sources") {
    val r = Graph.closenessCentrality(path, "src", "dst",
      sources = 4, maxDepth = 3)
      .collect().map(x => x.getAs[String]("node") -> x).toMap
    // b: distances from a,c,d = 1,1,2 → sum 4, closeness 3/4, ecc 2
    assert(r("b").getAs[Long]("sum_d") == 4L)
    assert(math.abs(r("b").getAs[Double]("closeness") - 0.75) < 1e-9)
    assert(r("b").getAs[Long]("ecc") == 2L)
    // a: from b,c,d = 1,2,3 → sum 6, ecc 3
    assert(r("a").getAs[Long]("sum_d") == 6L)
    assert(r("a").getAs[Long]("ecc") == 3L)
    // harmonic from the same BFS frame: Σ 12/d over the reached sources
    val h = Graph.harmonicCentrality(path, "src", "dst",
      sources = 4, maxDepth = 3)
      .collect().map(x => x.getAs[String]("node") -> x).toMap
    // b: 12/1 + 12/1 + 12/2 = 30; a: 12/1 + 12/2 + 12/3 = 22
    assert(h("b").getAs[Long]("reached") == 3L)
    assert(h("b").getAs[Double]("harmonic") == 30.0 / 12.0)
    assert(h("a").getAs[Long]("reached") == 3L)
    assert(h("a").getAs[Double]("harmonic") == 22.0 / 12.0)
  }

  test("katz: higher-degree center outranks leaves, exact fixed point") {
    // star: center c connected to 3 leaves (undirected)
    val e = Seq(("c", "l1"), ("c", "l2"), ("c", "l3"))
    val star = (e ++ e.map(_.swap)).toDF("src", "dst")
    val k = Graph.katzCentrality(star, "src", "dst", iters = 6)
      .collect().map(x => x.getAs[String]("node") -> x.getAs[Double]("katz")).toMap
    assert(k("c") > k("l1"), s"$k")
    assert(k("l1") == k("l2") && k("l2") == k("l3"))
    // one round by hand: x(c) = floor(3e6/16)/1e6 + 1 after round 1
    val k1 = Graph.katzCentrality(star, "src", "dst", iters = 1)
      .collect().map(x => x.getAs[String]("node") -> x.getAs[Double]("katz")).toMap
    assert(k1("c") == 1.1875 && k1("l1") == 1.0625, s"$k1")
  }
}
