package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across all suites (getOrCreate returns the
  * same session; ScalaTest runs suites in one JVM with Test/fork=true).
  * It is Bench's session ([[GraftSession.start]]) at local[4]; managed
  * tables land under /tmp/graft-warehouse, a static conf that only a
  * system property can set before the session starts.
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    sys.props.getOrElseUpdate("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
    GraftSession.start(4)
  }

  def sf(name: String) = s"/root/testdata/$name"
}
