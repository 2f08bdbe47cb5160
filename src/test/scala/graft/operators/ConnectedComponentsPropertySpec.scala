package graft.operators

import graft.SparkSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based check of the distributed connected-components operator
  * against a driver-side union-find reference on random graphs. */
class ConnectedComponentsPropertySpec extends SparkSuite {
  import spark.implicits._

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Force the distributed CC loop (gate 0) for a block — the adaptive
    * dispatch otherwise resolves every test-scale graph on the driver. */
  private def forcedDistributed[T](body: => T): T = {
    val key = "spark.graft.cc.collectThreshold"
    spark.conf.set(key, "0")
    try body finally spark.conf.unset(key)
  }

  /** Random graphs over a small id space. Self-loops, both orientations
    * of an edge and repeated edges are all allowed: a node seen only in a
    * self-loop must still get its own label on both branches. */
  private val edgeGen = for {
    n <- Gen.choose(2, 60)          // node id space
    m <- Gen.choose(1, 120)         // edge count
    es <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, n.toLong), Gen.choose(0L, n.toLong)))
  } yield es

  private def labels(edges: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** driver branch == forced-distributed branch == union-find */
  private def checkSeeds(seeds: Seq[Long]): Unit = seeds.foreach { seed =>
    val edges = edgeGen(Gen.Parameters.default, Seed(seed))
      .getOrElse(Seq((0L, 1L)))
    // default path (driver union-find under the gate at this scale)
    val got = labels(edges.toDF("id_a", "id_b"))
    // forced-distributed path must produce the identical labeling
    val gotDist = forcedDistributed(labels(edges.toDF("id_a", "id_b")))
    val want = unionFind(edges)
    assert(got === want, s"seed $seed, edges $edges")
    assert(gotDist === want, s"distributed path, seed $seed, edges $edges")
  }

  test("connectedComponents == union-find on random graphs (20 seeds)") {
    checkSeeds((1 to 20).map(_.toLong))
  }

  test("connectedComponents == union-find on random graphs (seeds 101-110)") {
    checkSeeds((1 to 10).map(100L + _))
  }

  test("connectedComponents: 96-node chain converges on the distributed branch") {
    // forced distributed: the chain exercises the large-star/small-star
    // round bound (min-label propagation would need 96 rounds), which the
    // driver gate would bypass
    val chain = (0L until 96L).sliding(2).map(s => (s(0), s(1))).toSeq
    val got = forcedDistributed(labels(chain.toDF("id_a", "id_b")))
    assert(got.size === 96)
    assert(got.values.forall(_ == 0L))
  }

  test("connectedComponents: forced-distributed == driver on the real jaccard edge set") {
    val edges = Dedup.ngramJaccard(spark, "/root/testdata/sf0.001")
      .select("id_a", "id_b")
    val driver = labels(edges)
    assert(driver.nonEmpty)
    assert(forcedDistributed(labels(edges)) === driver)
  }
}
