package graft.core

import org.apache.logging.log4j.{Level, LogManager}

import graft.SparkSpec

/** The bench, Verify, the plan audit, the scan-budget generator and the
  * gate suites run one configuration: the shared test session must
  * carry every conf `Sessions.local` sets, so a gate passing here speaks
  * for the plans the bench times. */
class SessionsSpec extends SparkSpec {
  test("the shared test session carries every Sessions.local conf") {
    assert(spark.sparkContext.master === "local[4]")
    Sessions.confs(4).foreach { case (k, v) =>
      assert(spark.conf.get(k) === v, s"conf $k")
    }
    assert(LogManager.getLogger(Sessions.WindowLogger).getLevel === Level.ERROR)
  }
}
