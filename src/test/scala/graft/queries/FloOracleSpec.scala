package graft.queries

import scala.sys.process._

import graft.SparkSuite

/** The flo queries against their DuckDB oracles on a fixture built for the
  * edge the sf0.001–sf0.1 testdata never reaches: `event_id` 0 is an
  * `/events/p*` event, which the zero version vector (exclusive start)
  * does not deliver. DuckDB is external tooling, so the spec cancels
  * where python3 + duckdb are absent, as [[OracleTypeGuardSpec]] does. */
class FloOracleSpec extends SparkSuite {

  test("flo_consume_glob matches its oracle when event 0 is a glob match") {
    val duckOk = scala.util.Try(
      Seq("python3", "-c", "import duckdb").! == 0).getOrElse(false)
    assume(duckOk, "python3+duckdb unavailable")

    import spark.implicits._
    val dir = tempDir("flo-oracle")
    val types = Seq("purchase", "view", "page_view", "error", "play")
    (0L until 40L).map(i => (i, i * 7, new java.sql.Timestamp(1700000000000L + i * 1000),
        types((i % types.size).toInt), s"""{"i":$i}"""))
      .toDF("event_id", "user_id", "ts", "event_type", "props")
      .coalesce(1).write.parquet(s"$dir/events_out")
    val part = new java.io.File(s"$dir/events_out").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    assert(part.renameTo(new java.io.File(s"$dir/events.parquet")))

    val got = FloQueries.queries("flo_consume_glob")(spark, dir).collect()
      .map(r => s"${r.getLong(0)},${r.getInt(1)},${r.getString(2)}").toSeq
    assert(got.nonEmpty && !got.exists(_.startsWith("0,")), got)

    val script = java.nio.file.Paths.get(dir, "oracle.py")
    java.nio.file.Files.writeString(script,
      """import sys
        |import duckdb
        |con = duckdb.connect()
        |con.execute(f"CREATE VIEW events AS SELECT * FROM '{sys.argv[1]}/events.parquet'")
        |for row in con.execute(sys.argv[2]).fetchall():
        |    print(",".join(str(v) for v in row))
        |""".stripMargin)
    val oracle = Seq("python3", script.toString, dir, FloQueries.oracles("flo_consume_glob")).!!
      .linesIterator.filter(_.nonEmpty).toSeq
    assert(got == oracle)
  }
}
