package graft

/** Whole-inventory smoke: every registered query must build, execute, and
  * keep lowercase column names (check.py/the driver sort columns by name
  * across engines — DuckDB lowercases identifiers, so a mixed-case Spark
  * column can never hash-match). Catches a broken registration at sbt-test
  * time instead of driver-verify time. Runs at sf0.001 so the full sweep
  * stays cheap; row counts are NOT asserted (some ops legitimately emit 0
  * rows at the smallest tier) — correctness belongs to the DuckDB gate.
  * Every query must also leave the session conf exactly as it found it:
  * a query scopes conf only through GraftSession.withConf.
  */
class SmokeSpec extends SparkSpec {

  test("all registered queries execute at sf0.001 with lowercase columns") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (n, fn) =>
      try {
        val confBefore = spark.conf.getAll
        val df = fn(spark, sf)
        val badCols = df.columns.filterNot(c => c == c.toLowerCase)
        require(badCols.isEmpty, s"non-lowercase columns: ${badCols.mkString(",")}")
        df.collect()
        val confAfter = spark.conf.getAll
        val leaked = (confBefore.keySet ++ confAfter.keySet)
          .filter(k => confBefore.get(k) != confAfter.get(k))
        require(leaked.isEmpty, "session conf changed: " + leaked.toSeq.sorted
          .map(k => s"$k ${confBefore.get(k)} -> ${confAfter.get(k)}").mkString(", "))
        None
      } catch {
        case e: Throwable =>
          Some(s"$n: ${Option(e.getMessage).getOrElse(e.toString).take(160)}")
      }
    }
    assert(failures.isEmpty, s"${failures.size} queries failed:\n${failures.mkString("\n")}")
  }
}
