package perfbench

import org.apache.spark.sql.SparkSession

object TestSpark {
  lazy val session: SparkSession = graft.GraftSession.local(2, 2)
}
