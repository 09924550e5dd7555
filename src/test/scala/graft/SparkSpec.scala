package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  /** Driver-generated fixture root (TESTDATA.md); GRAFT_TESTDATA
    * overrides it on hosts where the parquet lives elsewhere — every
    * fixture path in the suite derives from this one constant (r12
    * advice: no spec hard-codes its own /root/testdata). */
  val testdataRoot: String = sys.env.getOrElse("GRAFT_TESTDATA", "/root/testdata")
  val sfDir = s"$testdataRoot/sf0.001"
  /** The sf0.01 fixture, for the few specs that meter row counts at the
    * driver's correctness scale. */
  val sfDir01 = s"$testdataRoot/sf0.01"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.tools.Session("4")
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
