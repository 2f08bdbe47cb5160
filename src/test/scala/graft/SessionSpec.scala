package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** The harness seam: [[Session.release]] empties what a query leaves
  * behind, [[Session.parseConf]] rejects a malformed conf entry by name,
  * and no main builds a session any other way. */
class SessionSpec extends SparkSuite {

  test("release drops graft_stream views, registered materializations " +
    "and persisted RDDs") {
    import spark.implicits._
    Seq(1, 2).toDF("x").createOrReplaceTempView("graft_stream_x")
    val rdd = spark.sparkContext.parallelize(1 to 10).persist()
    rdd.count()
    val df = spark.range(5).toDF("id").persist()
    df.count()
    graft.operators.Dedup.materializedRegistry.add(df)

    Session.release(spark)

    assert(!spark.catalog.tableExists("graft_stream_x"))
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    assert(graft.operators.Dedup.materializedRegistry.isEmpty)
    assert(df.storageLevel === StorageLevel.NONE)
  }

  test("SPARK_GRAFT_CONF parse keeps k=v pairs and names a malformed entry") {
    assert(Session.parseConf("a=1;;b=x=y") === Seq("a" -> "1", "b" -> "x=y"))
    assert(Session.parseConf("") === Seq.empty)
    val e = intercept[RuntimeException](Session.parseConf("a=1;k"))
    assert(e.getMessage.contains("'k'"), e.getMessage)
  }

  test("SparkSession.builder appears in main source only in Session.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val walk = Files.walk(root)
    val offenders =
      try walk.iterator().asScala.filter { p =>
        p.toString.endsWith(".scala") &&
        !p.endsWith(Paths.get("graft/Session.scala")) &&
        Files.readString(p).contains("SparkSession.builder")
      }.toList
      finally walk.close()
    assert(offenders.isEmpty,
      s"build sessions through graft.Session.build: ${offenders.mkString(", ")}")
  }
}
