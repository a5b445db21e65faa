package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session settings every product main (`Bench`, `Verify`, the
  * pipeline apps) is built with, without starting a session. */
class SessionsSpec extends AnyFunSuite {

  private def expected(appName: String, cpus: String) = Map(
    "spark.app.name" -> appName,
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.codegen.cache.maxEntries" -> "5000",
  )

  test("4 cores: local[4], one shuffle partition per core") {
    assert(Sessions.settings("graft-verify", 4) == expected("graft-verify", "4"))
  }

  test("32 cores: local[32], one shuffle partition per core") {
    assert(Sessions.settings("graft-bench", 32) == expected("graft-bench", "32"))
  }
}
