package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites, built the way every main builds its
  * own. Deliberately leaves Spark 4 defaults (ANSI on) in place — the
  * engine must behave identically either way. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Session.build(4, Map(
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString))

  def resourcePath(p: String): String =
    getClass.getResource(p).getPath

  def approx(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
