package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions._
import graft.model.VersionVector

/**
 * The flo operator surface (SURVEY §2.1/§2.2/§2.6/§2.7) expressed as
 * oracle-checkable queries over the bridged `events` table (FIXTURES.md §3:
 * event_counter=event_id, partition=1+(user_id%3), namespace=/events/<type>).
 *
 * Every query has a deterministic total order so the DuckDB compare is
 * stable, and pushes its predicates into the parquet scan.
 */
object FloQueries {

  /** DuckDB CTE mirroring [[Tables.floEvents]]. */
  private val floCte =
    """WITH flo AS (
      |  SELECT event_id AS event_counter,
      |         CAST(1 + (user_id % 3) AS INT) AS "partition",
      |         ts AS timestamp,
      |         '/events/' || event_type AS namespace,
      |         props
      |  FROM events
      |)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // F1/F2: glob filter consume from the zero vector (S2/S3 scan + F1 glob)
    "flo_consume_glob" -> ((s, d) => {
      Tables.floEvents(s, d)
        .filter(VersionVector.zero(Seq(1, 2, 3)).toPredicate(col("partition"), col("event_counter")))
        .filter(ns_glob(col("namespace"), "/events/p*"))
        .select("event_counter", "partition", "namespace")
        .orderBy("event_counter")
    }),

    // F3/F4 + S4: version-vector seek (exclusive start, absent partition unread)
    "flo_consume_vv_seek" -> ((s, d) => {
      Tables.floEvents(s, d)
        .filter(VersionVector(1 -> 300L, 3 -> 600L)
          .toPredicate(col("partition"), col("event_counter")))
        .select("event_counter", "partition", "namespace")
        .orderBy("event_counter", "partition")
        .limit(200)
    }),

    // S7/A1: per-partition head counters
    "flo_head_status" -> ((s, d) => {
      Tables.floEvents(s, d)
        .groupBy("partition").agg(max("event_counter").as("head"))
        .orderBy("partition")
    }),

    // O1/O3 + C2: newest-first ordering with the id display form
    "flo_event_ids" -> ((s, d) => {
      Tables.floEvents(s, d)
        .orderBy(col("event_counter").desc)
        .limit(100)
        .select(event_id_str(col("event_counter"), col("partition")).as("id"),
          col("event_counter"), col("namespace"))
    }),

    // §2.3: parent/child causality self-join (successor event on same partition)
    "flo_parent_join" -> ((s, d) => {
      val flo = Tables.floEvents(s, d)
      flo.as("c").join(flo.as("p"),
          col("c.event_counter") === col("p.event_counter") + 1 &&
            col("c.partition") === col("p.partition"))
        .select(col("c.event_counter").as("child_counter"),
          col("p.event_counter").as("parent_counter"),
          col("c.namespace").as("child_ns"),
          col("p.namespace").as("parent_ns"))
        .orderBy("child_counter")
        .limit(500)
    }),

    // causal-depth histogram over the event forest: parent(e) is a
    // deterministic back-pointer (e − (e mod 997 + 1), root when that
    // falls off the log), the flo rendering of "event e was caused by an
    // earlier event". Depth is computed by POINTER DOUBLING — each round
    // joins every unresolved event to its current ancestor's ancestor and
    // adds the distances, so chains of depth D resolve in ⌈log₂D⌉
    // equi-join rounds (a depth-at-a-time BFS would take D rounds; a
    // recursive CTE doesn't exist in Spark). State per round is one
    // (id, ancestor, distance) row per unresolved event, localCheckpoint
    // truncates lineage, and the loop is the same eager-rounds discipline
    // as connectedComponents. The DuckDB oracle walks the same forest
    // top-down with a recursive CTE — O(n) total recursion rows.
    "flo_causal_depth" -> ((s, d) => {
      val par = Tables.floEvents(s, d).select(col("event_counter").as("id"))
        .withColumn("p",
          when(col("id") - (pmod(col("id"), lit(997)) + 1) >= 1,
            col("id") - (pmod(col("id"), lit(997)) + 1)))
      // invariant: every event is in exactly one of `res` (id -> final
      // depth) or `active` (id, anc, d) with d = dist(id -> anc). An
      // active row finishes by joining `res` (anc already resolved:
      // depth = d + depth(anc)) or advances by joining `active` (anc
      // unresolved: hop to the ancestor's ancestor, distances add) —
      // treating a missing active match as "root" would be wrong the
      // round after any mid-chain event resolves.
      var res = par.filter(col("p").isNull)
        .select(col("id"), lit(0L).as("depth")).localCheckpoint(true)
      var active = par.filter(col("p").isNotNull)
        .select(col("id"), col("p").as("anc"), lit(1L).as("d"))
        .localCheckpoint(true)
      var rounds = 0
      while (rounds < 24 && !active.isEmpty) {
        val a2 = active.select(col("id").as("jid"), col("anc").as("janc"),
          col("d").as("jd"))
        val r2 = res.select(col("id").as("rid"), col("depth").as("rdepth"))
        val joined = active
          .join(a2, col("anc") === col("jid"), "left")
          .join(r2, col("anc") === col("rid"), "left")
          .localCheckpoint(true)
        // only `joined` is materialized per round: res/active are cheap
        // filters + unions OVER the checkpointed rounds, so re-deriving
        // them reads cached blocks — checkpointing all three cost two
        // extra jobs per doubling round for nothing (~40% of this
        // query's actions at sf0.1)
        res = res.unionByName(
            joined.filter(col("rid").isNotNull)
              .select(col("id"), (col("d") + col("rdepth")).as("depth")))
        active = joined.filter(col("rid").isNull)
          .select(col("id"), col("janc").as("anc"),
            (col("d") + col("jd")).as("d"))
        rounds += 1
      }
      require(active.isEmpty,
        s"causal depth did not converge in $rounds doubling rounds")
      res.groupBy("depth").agg(count(lit(1)).as("n_events"))
        .orderBy("depth")
    }),

    // per-key churn (the table-view companion readout: how HOT is each
    // key, and what did it change from): per namespace, update count,
    // head counter, and the previous counter — two hash aggregates (the
    // heads table is key-cardinality-sized and broadcasts back), no
    // window over the log.
    "flo_key_churn" -> ((s, d) => {
      val flo = Tables.floEvents(s, d).select("namespace", "event_counter")
      val heads = flo.groupBy("namespace").agg(
        count(lit(1)).as("n_events"), max("event_counter").as("head_counter"))
      flo.join(broadcast(heads), "namespace")
        .groupBy("namespace")
        .agg(max("n_events").as("n_events"),
          max("head_counter").as("head_counter"),
          max(when(col("event_counter") < col("head_counter"),
            col("event_counter"))).as("prev_counter"))
        .orderBy("namespace")
    }),

    // counter-density audit (the log health check behind flo's gap-free
    // produce contract): per partition, count vs counter span. On the
    // bridged events view counters are globally dense but interleaved
    // across partitions, so per-partition holes are EXPECTED and the
    // audit quantifies them; on a real FloEngine log (per-partition
    // counter ranges) holes == 0 is the invariant FloEngineSpec pins.
    "flo_density_audit" -> ((s, d) =>
      Tables.floEvents(s, d)
        .groupBy("partition")
        .agg(count(lit(1)).as("n"),
          min("event_counter").as("min_c"),
          max("event_counter").as("max_c"),
          (max("event_counter") - min("event_counter") + 1 - count(lit(1)))
            .as("holes"))
        .orderBy("partition")),

    // C4: payload JSON decode (SerdeJsonCodec equivalent) + aggregation
    "flo_payload_k" -> ((s, d) => {
      Tables.floEvents(s, d)
        .select(payload_json(col("data"), "$.k").cast("long").as("k"))
        .groupBy(pmod(col("k"), lit(10)).as("k_bucket"))
        .agg(count("*").as("n"))
        .orderBy("k_bucket")
    }),

    // C4: structured payload decode via from_json (full-schema variant of
    // the SerdeJsonCodec; payload_json covers the single-path form)
    "flo_payload_struct" -> ((s, d) => {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType)))
      Tables.floEvents(s, d)
        .select(col("event_counter"),
          from_json(col("data").cast("string"), schema).as("payload"))
        .select(col("event_counter"), col("payload.k").as("k"))
        .filter(col("event_counter") < 500)
        .orderBy("event_counter")
    }),

    // §2.7: union of two consumer globs (overlap dedup via set semantics)
    "flo_union_globs" -> ((s, d) => {
      val flo = Tables.floEvents(s, d)
      val a = flo.filter(ns_glob(col("namespace"), "/events/p*"))
      val b = flo.filter(ns_glob(col("namespace"), "/events/error"))
      a.select("event_counter", "namespace")
        .union(b.select("event_counter", "namespace"))
        .distinct()
        .orderBy("event_counter")
    }),

    // changelog TABLE VIEW (the KTable reduction of a log): latest event
    // per key — here keyed by namespace, "latest" = highest (counter,
    // partition). One hash aggregate via max_by with a single composite
    // integer order key (counter*4 + partition: unique and monotone for
    // 3 partitions), so the view is one shuffle with map-side partials
    // and NO window sort — the upsert-compaction read a stateful consumer
    // of the reference builds by folding events (flo consumers keep their
    // own state; the engine serves the fold as a declarative aggregate).
    "flo_table_view" -> ((s, d) => {
      val flo = Tables.floEvents(s, d)
        .withColumn("props", payload_utf8(col("data")))
        .withColumn("ok", col("event_counter") * 4 + col("partition"))
      flo.groupBy("namespace")
        .agg(
          expr("max_by(event_counter, ok)").as("last_counter"),
          expr("max_by(partition, ok)").as("last_partition"),
          expr("max_by(props, ok)").as("last_props"),
          count(lit(1)).as("n_versions"))
        .orderBy("namespace")
    }),

    // the graft_consume TABLE function end-to-end: the fixture events are
    // PRODUCED into a real engine stream once (tmp, marker-committed like
    // the ANN index), then consumed back through plain SQL in FROM
    // position and aggregated. Counts per namespace are independent of
    // the engine's counter assignment, so the oracle is the raw events
    // table — this pins the whole produce → log → TVF consume loop
    // against DuckDB, not just the TVF's parse path.
    "flo_consume_sql" -> ((s, d) => {
      val tag = d.replaceAll("[^A-Za-z0-9._-]", "_")
      val root = s"${sys.props("java.io.tmpdir")}/graft_tvf/v1_$tag"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      val marker = new org.apache.hadoop.fs.Path(s"$root/_produce_done")
      if (!fs.exists(marker)) {
        val engine = new graft.engine.FloEngine(s, root)
        engine.createStream(
          graft.engine.FloEngine.EventStreamOptions("default", numPartitions = 3))
        engine.produce("default", Tables.floEvents(s, d)
            .select("partition", "namespace", "parent_counter",
              "parent_partition", "data"))
          .write.format("noop").mode("overwrite").save()
        fs.create(marker, true).close()
      }
      graft.expressions.GraftExtensions.register(s)
      s.sql(
        s"""SELECT namespace, COUNT(*) AS n
           |FROM graft_consume('$root', 'default', '/events/*')
           |GROUP BY namespace ORDER BY namespace""".stripMargin)
    }))

  val oracles: Map[String, String] = Map(
    "flo_table_view" ->
      s"""$floCte
         |SELECT namespace,
         |  arg_max(event_counter, event_counter * 4 + "partition") AS last_counter,
         |  arg_max("partition", event_counter * 4 + "partition") AS last_partition,
         |  arg_max(props, event_counter * 4 + "partition") AS last_props,
         |  COUNT(*) AS n_versions
         |FROM flo GROUP BY namespace ORDER BY namespace""".stripMargin,

    "flo_consume_sql" ->
      """SELECT '/events/' || event_type AS namespace, COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "flo_consume_glob" ->
      s"""$floCte
         |SELECT event_counter, "partition", namespace FROM flo
         |WHERE (("partition" = 1 AND event_counter > 0)
         |    OR ("partition" = 2 AND event_counter > 0)
         |    OR ("partition" = 3 AND event_counter > 0))
         |  AND namespace LIKE '/events/p%'
         |ORDER BY event_counter""".stripMargin,

    "flo_consume_vv_seek" ->
      s"""$floCte
         |SELECT event_counter, "partition", namespace FROM flo
         |WHERE ("partition" = 1 AND event_counter > 300)
         |   OR ("partition" = 3 AND event_counter > 600)
         |ORDER BY event_counter, "partition" LIMIT 200""".stripMargin,

    "flo_head_status" ->
      s"""$floCte
         |SELECT "partition", MAX(event_counter) AS head FROM flo
         |GROUP BY "partition" ORDER BY "partition"""".stripMargin,

    "flo_event_ids" ->
      s"""$floCte
         |SELECT CAST(event_counter AS VARCHAR) || '.' || CAST("partition" AS VARCHAR) AS id,
         |       event_counter, namespace
         |FROM flo ORDER BY event_counter DESC LIMIT 100""".stripMargin,

    "flo_parent_join" ->
      s"""$floCte
         |SELECT c.event_counter AS child_counter, p.event_counter AS parent_counter,
         |       c.namespace AS child_ns, p.namespace AS parent_ns
         |FROM flo c JOIN flo p
         |  ON c.event_counter = p.event_counter + 1 AND c."partition" = p."partition"
         |ORDER BY child_counter LIMIT 500""".stripMargin,

    // same deterministic parent forest, walked top-down: O(n) recursion
    "flo_causal_depth" ->
      """WITH RECURSIVE par AS (
        |  SELECT event_id AS id,
        |    CASE WHEN event_id - (event_id % 997 + 1) >= 1
        |         THEN event_id - (event_id % 997 + 1) END AS p
        |  FROM events
        |), walk AS (
        |  SELECT id, 0 AS depth FROM par WHERE p IS NULL
        |  UNION ALL
        |  SELECT par.id, walk.depth + 1 FROM par JOIN walk ON par.p = walk.id
        |)
        |SELECT CAST(depth AS BIGINT) AS depth, COUNT(*) AS n_events
        |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin,

    "flo_key_churn" ->
      s"""$floCte
         |, heads AS (
         |  SELECT namespace, CAST(COUNT(*) AS BIGINT) AS n_events,
         |    CAST(MAX(event_counter) AS BIGINT) AS head_counter
         |  FROM flo GROUP BY 1)
         |SELECT f.namespace, MAX(h.n_events) AS n_events,
         |  MAX(h.head_counter) AS head_counter,
         |  CAST(MAX(CASE WHEN f.event_counter < h.head_counter
         |    THEN f.event_counter END) AS BIGINT) AS prev_counter
         |FROM flo f JOIN heads h USING (namespace)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "flo_density_audit" ->
      s"""$floCte
         |SELECT "partition", COUNT(*) AS n,
         |  CAST(MIN(event_counter) AS BIGINT) AS min_c,
         |  CAST(MAX(event_counter) AS BIGINT) AS max_c,
         |  CAST(MAX(event_counter) - MIN(event_counter) + 1 - COUNT(*) AS BIGINT)
         |    AS holes
         |FROM flo GROUP BY 1 ORDER BY 1""".stripMargin,

    "flo_payload_k" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
        |       COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "flo_payload_struct" ->
      """SELECT event_id AS event_counter,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events WHERE event_id < 500 ORDER BY event_counter""".stripMargin,

    "flo_union_globs" ->
      s"""$floCte
         |SELECT event_counter, namespace FROM flo WHERE namespace LIKE '/events/p%'
         |UNION
         |SELECT event_counter, namespace FROM flo WHERE namespace = '/events/error'
         |ORDER BY event_counter""".stripMargin)
}
