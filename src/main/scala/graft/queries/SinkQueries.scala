package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.ops.{Backfill, Sinks}

/** Oracle-checked coverage for the side-effecting source/sink rows that
  * were previously scalatest-only (SURVEY.md S5, S10): the driver's DuckDB
  * oracle can replay both — S5 because unioned pages must equal a single
  * scan, S10 because DuckDB can `read_csv` the very TSV files Spark staged.
  */
object SinkQueries {

  /** Deterministic staging root shared between the Spark impl and the
    * static oracle SQL. The sf-dir name is part of the path so a bench run
    * at sf0.1 can never clobber the sf0.01 files the oracle reads. The
    * oracle assumes the driver's flow (Verify at sf0.01, THEN the DuckDB
    * compare) — the Spark side re-stages the files on every run, so the
    * oracle always reads the bytes the run under test just wrote. */
  private def stageDir(dir: String): String = {
    val sf = new java.io.File(dir).getName
    s"/tmp/graft_stage/$sf"
  }

  /** s46's base-table bound: every statement's key range sits below
    * it, and the ANTI statements sweep the whole key space by
    * semantics. */
  val S46KeyBound = 60000

  /** s46's DML statements, in execution order, parameterized by the
    * catalog name; each is named for the shape it exercises. */
  def s46Statements(cat: String): Seq[(String, String)] = Seq(
    "ctas" ->
      s"CREATE TABLE $cat.default.t AS SELECT * FROM s46_base",
    "update_exists_correlated" ->
      s"""UPDATE $cat.default.t t
        SET o_totalprice = o_totalprice + 1000.0
        WHERE EXISTS (SELECT 1 FROM s46_base b
          WHERE b.o_orderkey = t.o_orderkey AND b.o_custkey % 7 = 2
            AND b.o_orderkey < 40000)""",
    "update_in_uncorrelated" ->
      s"""UPDATE $cat.default.t SET o_totalprice = -o_totalprice
        WHERE o_orderkey IN (
          SELECT o_orderkey FROM s46_base
          WHERE o_custkey % 11 = 3
            AND o_orderkey BETWEEN 20000 AND 28000)""",
    "update_in_correlated" ->
      s"""UPDATE $cat.default.t t SET o_custkey = o_custkey + 1000000
        WHERE o_orderkey IN (SELECT b.o_orderkey FROM s46_base b
          WHERE b.o_custkey = t.o_custkey AND b.o_orderkey % 5 = 0
            AND b.o_orderkey BETWEEN 50000 AND 58000)""",
    "update_not_exists_sweep" ->
      s"""UPDATE $cat.default.t t
        SET o_totalprice = o_totalprice * 2.0
        WHERE NOT EXISTS (SELECT 1 FROM s46_base b
          WHERE b.o_orderkey = t.o_orderkey
            AND b.o_custkey % 13 != 5)""",
    "update_not_in_correlated" ->
      s"""UPDATE $cat.default.t t SET o_custkey = o_custkey - 500000
        WHERE o_orderkey NOT IN (
          SELECT b.o_orderkey FROM s46_base b
          WHERE b.o_custkey = t.o_custkey AND b.o_orderkey % 2 = 0)""",
    "final_select" ->
      s"""SELECT o_orderkey, o_custkey, o_totalprice
        FROM $cat.default.t ORDER BY o_orderkey""")

  val all: Seq[QueryDef] = Seq(

    // S5: cursor-paginated backfill (funding_rates_etl.py:38-66's
    // hasMore/endTime loop). Pages are key-range slices of `orders`
    // served through Backfill.paginate; the invariant an oracle can
    // check is pages ⊎ pages ≡ one scan — pagination must neither drop
    // nor duplicate rows at page boundaries.
    QueryDef("s5_backfill",
      (s, dir) => {
        val orders = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        // the cursor driver is the S5 I/O boundary (HTTP paging in the
        // reference): one bounded driver-side max() to know when the
        // source is exhausted, then ~20 lazy page frames. The page count
        // is bounded, NOT the page size: each page is one subplan (one
        // range-scan of the source), so a key-proportional page count
        // would union hundreds of scans at larger SFs — page size is the
        // knob that scales, exactly as a real backfill widens its time
        // window per request rather than issuing 600 requests.
        val maxRow = orders.agg(max("o_orderkey")).collect()(0)
        // empty source: max() is null — the backfill is a no-op and the
        // aggregate below must still emit its one (0, 0, null) row, like
        // the oracle's aggregate over an empty table does
        val maxKey = if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0)
        val step = math.max(1000L, maxKey / 20 + 1)
        val fetch: Option[Long] => Option[Backfill.Page] = cursor => {
          val from = cursor.getOrElse(0L)
          if (from > maxKey) None
          else Some(Backfill.Page(
            orders.filter(col("o_orderkey") >= from &&
              col("o_orderkey") < from + step),
            if (from + step > maxKey) None else Some(from + step)))
        }
        // GLOBAL aggregation (no groupBy): only the grand aggregate emits
        // its one row on empty input, matching the oracle's (0, 0, null)
        Backfill.paginate(fetch).getOrElse(orders.limit(0))
          .agg(
            count(lit(1)).as("row_cnt"),
            count_distinct(col("o_orderkey")).as("key_cnt"),
            // decimal sum → double cast: double-accumulation order differs
            // between engines (see Stats.scala discipline)
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").as("price_sum"))
      },
      """SELECT count(*) AS row_cnt,
        |  count(DISTINCT o_orderkey) AS key_cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
        |FROM orders""".stripMargin),

    // S14: the corrupt-record QUARANTINE path, oracle-checked — the one
    // ingest behavior that was scalatest-only. Deterministic payload
    // lines are synthesized from `events` (valid funding-rate envelopes,
    // plus two corruption classes: truncated JSON that cannot parse at
    // all, and type drift where timePoint carries a string), staged as
    // text, and re-read through the SAME explicit-schema +
    // columnNameOfCorruptRecord parse the streaming sources use
    // (JsonApiSource.readFundingBatch). The oracle rebuilds the exact
    // corrupt line texts from the fixture: counts AND contents of the
    // quarantine must match, and the clean side must lose nothing.
    QueryDef("s14_json_quarantine",
      (s, dir) => {
        val path = s"${stageDir(dir)}/s14_json"
        val head = """{"code":"200000","data":{"dataList":[{"symbol":""""
        val ev = Tables.events(s, dir).select("event_id", "event_type")
        val truncated = concat(lit(head), col("event_type"), lit("\","))
        val drift = concat(lit(head), col("event_type"),
          lit("""","granularity":1,"timePoint":"oops","value":1.5}],"hasMore":false}}"""))
        val valid = concat(lit(head), col("event_type"),
          lit("""","granularity":28800000,"timePoint":"""),
          col("event_id").cast("string"),
          lit(""","value":1.5}],"hasMore":false}}"""))
        ev.select(
          when(col("event_id") % 7 === 0, truncated)
            .when(col("event_id") % 11 === 0, drift)
            .otherwise(valid).as("line"))
          .write.mode("overwrite").text(path)

        val parsed = graft.streaming.JsonApiSource.readFundingBatch(s, path)
        // ONE pass over ONE scan, deliberately: corrupt-record detection
        // happens against the scan's REQUIRED schema, so a branch that
        // reads only (code, _corrupt_record) never parses timePoint and
        // silently fails to quarantine type drift (measured — the drift
        // class vanished). Keeping every output on a single full-payload
        // projection makes the quarantine semantics those of the full
        // schema, and referencing more than the corrupt column also
        // stays off the corrupt-column-only read Spark disallows.
        // Class split: PERMISSIVE still parses the envelope of a DRIFTED
        // record (code non-null, offending field nulled, raw line
        // quarantined) while an unparseable line nulls everything — the
        // envelope code separates the two failure classes.
        parsed.select(
            when(col("_corrupt_record").isNull, lit("clean"))
              .when(col("code").isNotNull, lit("drift"))
              .otherwise(lit("truncated")).as("status"),
            when(col("_corrupt_record").isNull,
              element_at(col("data.dataList.symbol"), 1))
              .otherwise(col("_corrupt_record")).as("txt"))
          .groupBy("status")
          .agg(count(lit(1)).as("n"),
            min("txt").as("lo"), max("txt").as("hi"))
          .orderBy("status")
      },
      """WITH ev AS (SELECT event_id, event_type FROM events),
        |h AS (SELECT '{"code":"200000","data":{"dataList":[{"symbol":"'
        |  AS head)
        |SELECT 'clean' AS status, count(*) AS n,
        |  min(event_type) AS lo, max(event_type) AS hi
        |FROM ev WHERE event_id % 7 <> 0 AND event_id % 11 <> 0
        |UNION ALL
        |SELECT 'drift', count(*),
        |  min(head || event_type ||
        |    '","granularity":1,"timePoint":"oops","value":1.5}],"hasMore":false}}'),
        |  max(head || event_type ||
        |    '","granularity":1,"timePoint":"oops","value":1.5}],"hasMore":false}}')
        |FROM ev, h WHERE event_id % 7 <> 0 AND event_id % 11 = 0
        |UNION ALL
        |SELECT 'truncated', count(*),
        |  min(head || event_type || '",'),
        |  max(head || event_type || '",')
        |FROM ev, h WHERE event_id % 7 = 0
        |ORDER BY status""".stripMargin),

    // ORC roundtrip — the second columnar format a Spark-native engine
    // speaks for free. DuckDB cannot read ORC, so the oracle is the
    // identity check: write∘read must reproduce exactly what the same
    // aggregation computes from the parquet source (schema, values,
    // nulls). Types cover long/string/double.
    QueryDef("s12_orc_roundtrip",
      (s, dir) => {
        val staged = Tables.orders(s, dir)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").as("sum_price"))
        val path = s"${stageDir(dir)}/s12_orc"
        staged.write.mode("overwrite").orc(path)
        s.read.orc(path).orderBy("o_orderstatus")
      },
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),

    // JSON-lines roundtrip — the interchange format every ingest pipeline
    // meets. Same identity-oracle shape as s12 (the staged values must
    // survive Spark's JSON serialization bit-for-bit; longs and strings
    // only, since JSON has no timestamp type and floats are a
    // serialization minefield the reference never steps into either).
    QueryDef("s13_jsonl_roundtrip",
      (s, dir) => {
        val staged = Tables.events(s, dir)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), max("event_id").as("max_event"))
        val path = s"${stageDir(dir)}/s13_jsonl"
        staged.write.mode("overwrite").json(path)
        s.read
          .schema(StructType(Seq(
            StructField("event_type", StringType),
            StructField("n", LongType),
            StructField("max_event", LongType))))
          .json(path)
          .select("event_type", "n", "max_event")
          .orderBy("event_type")
      },
      """SELECT event_type, count(*) AS n, max(event_id) AS max_event
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // S10: TSV staging roundtrip (to_csv(sep="\t", header=False),
    // active_futures_etl.py:103). Spark stages a headerless TSV and
    // reads it back; the oracle makes DuckDB parse the SAME files —
    // verifying the written bytes, not just write∘read ≡ id. Staged
    // columns are string/bigint only: float TSV formatting differs
    // between engines, and the reference stages symbol/identifier
    // columns too.
    QueryDef("s10_tsv_roundtrip",
      (s, dir) => {
        val staged = Tables.events(s, dir)
          .groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("cnt"), max("event_id").as("max_event"))
        val path = s"${stageDir(dir)}/s10_tsv"
        Sinks.tsvStaging(
          staged.select("user_id", "event_type", "cnt", "max_event"), path)
        s.read
          .option("sep", "\t").option("header", "false")
          .option("escape", "\"") // match the writer's RFC-4180 quoting
          .schema(StructType(Seq(
            StructField("user_id", LongType),
            StructField("event_type", StringType),
            StructField("cnt", LongType),
            StructField("max_event", LongType))))
          .csv(path)
          .orderBy("user_id", "event_type")
      },
      // the driver's oracle runs at sf0.01 (after Verify wrote the files)
      """SELECT user_id, event_type, cnt, max_event
        |FROM read_csv('/tmp/graft_stage/sf0.01/s10_tsv/part-*',
        |  delim='\t', header=false,
        |  columns={'user_id': 'BIGINT', 'event_type': 'VARCHAR',
        |           'cnt': 'BIGINT', 'max_event': 'BIGINT'})
        |ORDER BY user_id, event_type""".stripMargin),

    // S15: SCD type-2 history build — the warehouse-side complement of
    // the reference's truncate-and-reload dimension refreshes
    // (kucoin_data_etl.py:21-37 keep only the CURRENT state; this derives
    // the full validity-interval history the reload discards). Each
    // user's event_type stream collapses to one row per CHANGE with
    // [valid_from, valid_to) intervals; two window passes share one
    // partitioning on user_id — a single shuffle at any scale.
    QueryDef("s15_scd2",
      (s, dir) => graft.ops.Scd.scd2(
        Tables.events(s, dir)
          .select("user_id", "ts", "event_type", "event_id"),
        key = "user_id", time = "ts", attr = "event_type",
        tieBreak = Seq(col("event_id").asc))
        .orderBy("user_id", "change_seq"),
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    event_type, event_id FROM events),
        |m AS (SELECT user_id, ts, event_type,
        |    lag(event_type) OVER w AS prev,
        |    row_number() OVER w AS rn
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC)),
        |c AS (SELECT user_id, ts, event_type, rn FROM m
        |  WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
        |f AS (SELECT user_id, event_type, ts AS valid_from,
        |    lead(ts) OVER w2 AS valid_to,
        |    row_number() OVER w2 AS change_seq
        |  FROM c WINDOW w2 AS (PARTITION BY user_id
        |    ORDER BY ts ASC, rn ASC))
        |SELECT user_id, event_type, valid_from, valid_to,
        |  valid_to IS NULL AS is_current, change_seq::BIGINT AS change_seq
        |FROM f ORDER BY user_id, change_seq""".stripMargin),

    // S17: targeted physical delete (right-to-be-forgotten / retention
    // expiry) — the complement of S7's upsert. Stages the events table
    // as a snapshot table, deletes every row of a deterministic user
    // subset by key frame (Snapshots.deleteMatching: only files whose
    // key footprint may match are rewritten, in one atomic commit), then
    // reads the post-delete version back; the oracle replays the
    // deletion as a plain anti-filter over the source.
    QueryDef("s17_delete_keys",
      (s, dir) => {
        import graft.ops.Snapshots
        val root = s"${stageDir(dir)}/s17_snap"
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        Snapshots.append(Tables.events(s, dir)
          .select("event_id", "user_id", "event_type", "value"), root)
        val keys = Tables.events(s, dir).select("user_id")
          .filter(col("user_id") % 7 === 0).distinct()
        Snapshots.deleteMatching(s, root, keys, Seq("user_id"))
        Snapshots.read(s, root)
          .groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum(col("value").cast("decimal(18,4)")).cast("double")
              .as("sum_value"))
          .orderBy("event_type")
      },
      """SELECT event_type, count(*)::BIGINT AS n_rows,
        |  (sum(CAST(value AS DECIMAL(18,4))))::DOUBLE AS sum_value
        |FROM events WHERE user_id % 7 <> 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // S18: small-file compaction — stage the events table fragmented
    // (16 files in one commit, the after-a-month-of-5-min-ticks layout),
    // compact it into a new version (Snapshots.compact), and read that
    // version back. The oracle is the same aggregation from the source:
    // compaction must be byte-exact on data while collapsing the layout
    // (the snapshot compact specs prove the file counts; here the oracle
    // proves no row was lost, duplicated, or altered).
    QueryDef("s18_compaction",
      (s, dir) => {
        import graft.ops.Snapshots
        val root = s"${stageDir(dir)}/s18_snap"
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        Snapshots.append(Tables.events(s, dir)
          .select("event_id", "user_id", "event_type", "value")
          .repartition(16), root)
        Snapshots.compact(s, root, 2)
        Snapshots.read(s, root)
          .groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum(col("value").cast("decimal(18,4)")).cast("double")
              .as("sum_value"),
            sum(col("event_id")).cast("long").as("sum_ids"))
          .orderBy("event_type")
      },
      """SELECT event_type, count(*)::BIGINT AS n_rows,
        |  (sum(CAST(value AS DECIMAL(18,4))))::DOUBLE AS sum_value,
        |  sum(event_id)::BIGINT AS sum_ids
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // S19: schema evolution — a live table gains a column without
    // rewriting history. Batch 1 lands in the old 3-column schema,
    // batch 2 appends with a new `category` column; a mergeSchema read
    // unifies them (legacy rows surface NULL, coalesced to a marker).
    // The oracle recomputes the same report from the source, so the
    // evolved read must lose no row and invent no value — the upgrade
    // path a 100 TB store takes instead of a full rewrite.
    QueryDef("s19_schema_evolution",
      (s, dir) => {
        val path = s"${stageDir(dir)}/s19_table"
        val e = Tables.events(s, dir)
        e.filter(col("user_id") % 2 === 0)
          .select("event_id", "user_id", "value")
          .write.mode("overwrite").parquet(path)
        e.filter(col("user_id") % 2 === 1)
          .select(col("event_id"), col("user_id"), col("value"),
            col("event_type").as("category"))
          .write.mode("append").parquet(path)
        s.read.option("mergeSchema", "true").parquet(path)
          .groupBy(coalesce(col("category"), lit("__legacy__"))
            .as("category"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("value").cast("decimal(18,4)")).cast("double")
              .as("sum_value"))
          .orderBy("category")
      },
      """SELECT CASE WHEN user_id % 2 = 1 THEN event_type
        |       ELSE '__legacy__' END AS category,
        |  count(*)::BIGINT AS n,
        |  (sum(CAST(value AS DECIMAL(18,4))))::DOUBLE AS sum_value
        |FROM events GROUP BY 1 ORDER BY category""".stripMargin),

    // S20: Z-order clustered rewrite (ops/Layout) — the multi-column
    // data-skipping layout (OPTIMIZE ... ZORDER BY). The oracle checks
    // what a layout op must guarantee: the rewrite preserves content
    // EXACTLY (counts + exact-decimal sums per group, read back from
    // the clustered files); the narrow-per-file-min/max property that
    // justifies the op is asserted in LayoutSpec, where file boundaries
    // are observable.
    QueryDef("s20_zorder_layout",
      (s, dir) => {
        val path = s"${stageDir(dir)}/s20_table"
        val li = Tables.lineitem(s, dir)
          .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
            "l_extendedprice", "l_returnflag")
        graft.ops.Layout.cluster(li, Seq("l_partkey", "l_suppkey"),
          bits = 8, numFiles = 8)
          .write.mode("overwrite").parquet(path)
        s.read.parquet(path)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
              .as("sum_qty"),
            sum(col("l_partkey")).cast("long").as("sum_partkey"))
          .orderBy("l_returnflag")
      },
      """SELECT l_returnflag, count(*)::BIGINT AS n_rows,
        |  (sum(CAST(l_quantity AS DECIMAL(18,4))))::DOUBLE AS sum_qty,
        |  sum(l_partkey)::BIGINT AS sum_partkey
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    // S23: versioned snapshot table with time travel (ops/Snapshots).
    // Three commits land (append, append, OVERWRITE), then the query
    // reads VERSION 2 — proving a superseded version stays readable
    // byte-for-byte after later commits, the isolation directory swaps
    // cannot give. The oracle recomputes v2's logical content (the two
    // appended thirds of orders) from the source table; hash equality
    // pins both the commit protocol and the manifest-pinned read.
    QueryDef("s23_snapshot_time_travel",
      (s, dir) => {
        import graft.ops.Snapshots
        val root = s"${stageDir(dir)}/s23_snap"
        val p = new org.apache.hadoop.fs.Path(root)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(p, true) // rebuild the fixture table each run
        val orders = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice",
            "o_orderpriority")
        Snapshots.append(orders.filter(pmod(col("o_orderkey"), lit(3)) === 0), root)
        Snapshots.append(orders.filter(pmod(col("o_orderkey"), lit(3)) === 1), root)
        Snapshots.overwrite(orders.filter(pmod(col("o_orderkey"), lit(3)) === 2), root)
        Snapshots.read(s, root, version = 2)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum(col("o_totalprice").cast("decimal(18,4)")).cast("double")
              .as("sum_price"))
          .orderBy("o_orderpriority")
      },
      """SELECT o_orderpriority, count(*)::BIGINT AS n_rows,
        |  (sum(CAST(o_totalprice AS DECIMAL(18,4))))::DOUBLE AS sum_price
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // S24: snapshot CDC — Snapshots.diff between committed versions.
    // v1 appends the %3==0 third of orders, v2 appends the %3==1
    // third, v3 overwrites with %3∈{1,2}. diff(v1,v2) must be exactly
    // the appended third as inserts (file-level: only the appended
    // files are read — v1's files appear in both manifests and cancel
    // unread); diff(v2,v3) must be the %3==2 rows as inserts and the
    // %3==0 rows as deletes — the overwrite rewrote the surviving
    // %3==1 rows into NEW files, so THOSE cancel at row level through
    // the exceptAll. The oracle recomputes all three groups straight
    // from the source predicates.
    QueryDef("s24_snapshot_diff",
      (s, dir) => {
        import graft.ops.Snapshots
        val root = s"${stageDir(dir)}/s24_snap"
        val p = new org.apache.hadoop.fs.Path(root)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(p, true) // rebuild the fixture table each run
        val orders = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        Snapshots.append(orders.filter(pmod(col("o_orderkey"), lit(3)) === 0), root)
        Snapshots.append(orders.filter(pmod(col("o_orderkey"), lit(3)) === 1), root)
        Snapshots.overwrite(orders.filter(pmod(col("o_orderkey"), lit(3)).isin(1, 2)), root)
        def summarize(step: String, d: org.apache.spark.sql.DataFrame) =
          d.groupBy("change_type")
            .agg(count(lit(1)).cast("long").as("n_rows"),
              sum(col("o_totalprice").cast("decimal(18,4)"))
                .cast("double").as("sum_price"))
            .select(lit(step).as("step"), col("change_type"),
              col("n_rows"), col("sum_price"))
        summarize("v1_v2", Snapshots.diff(s, root, 1, 2))
          .unionByName(summarize("v2_v3", Snapshots.diff(s, root, 2, 3)))
          .orderBy("step", "change_type")
      },
      """WITH d AS (
        |  SELECT 'v1_v2' AS step, 'insert' AS change_type, o_totalprice
        |    FROM orders WHERE o_orderkey % 3 = 1
        |  UNION ALL
        |  SELECT 'v2_v3', 'delete', o_totalprice
        |    FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT 'v2_v3', 'insert', o_totalprice
        |    FROM orders WHERE o_orderkey % 3 = 2)
        |SELECT step, change_type, count(*)::BIGINT AS n_rows,
        |  (sum(CAST(o_totalprice AS DECIMAL(18,4))))::DOUBLE AS sum_price
        |FROM d GROUP BY step, change_type
        |ORDER BY step, change_type""".stripMargin),

    // S25: manifest-stats data skipping — Snapshots.readWhere. Three
    // commits hold disjoint o_orderdate ranges (dates are
    // scale-factor-stable, so every commit is non-empty at any SF);
    // the year-straddling predicate can only live in the middle
    // commit, so readWhere opens ONLY its files — the read-side payoff
    // of clustered layout: per-file min/max in the manifest turn a
    // 100 TB scan into the overlapping files. Results are identical to
    // a full scan + filter by construction (pruning is proof-based);
    // the oracle recomputes from the source predicate, and
    // SnapshotsSpec asserts the skipping property itself.
    QueryDef("s25_stats_skipping",
      (s, dir) => {
        import graft.ops.Snapshots
        val root = s"${stageDir(dir)}/s25_snap"
        val p = new org.apache.hadoop.fs.Path(root)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(p, true) // rebuild the fixture table each run
        val orders = Tables.orders(s, dir)
          .select("o_orderkey", "o_totalprice", "o_orderdate",
            "o_orderpriority")
        Snapshots.append(
          orders.filter(col("o_orderdate") < "1994-01-01"), root)
        Snapshots.append(
          orders.filter(col("o_orderdate") >= "1994-01-01" &&
            col("o_orderdate") < "1996-01-01"), root)
        Snapshots.append(
          orders.filter(col("o_orderdate") >= "1996-01-01"), root)
        Snapshots.readWhere(s, root,
          col("o_orderdate") >= "1994-06-01" &&
            col("o_orderdate") < "1995-06-01")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum(col("o_totalprice").cast("decimal(18,4)")).cast("double")
              .as("sum_price"))
          .orderBy("o_orderpriority")
      },
      """SELECT o_orderpriority, count(*)::BIGINT AS n_rows,
        |  (sum(CAST(o_totalprice AS DECIMAL(18,4))))::DOUBLE AS sum_price
        |FROM orders
        |WHERE o_orderdate >= DATE '1994-06-01'
        |  AND o_orderdate < DATE '1995-06-01'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // S26: incremental consumption — Snapshots.changesSince. A consumer
    // that remembers its last-processed version pays only the appended
    // files per run (file-level decision, nothing scanned to decide).
    // Three version-by-version reads unioned must equal the one-scan
    // oracle — the pages ⊎ pages ≡ one-scan discipline (s5/o5) applied
    // to the snapshot log.
    QueryDef("s26_incremental_consume",
      (s, dir) => {
        import graft.ops.Snapshots
        val root = s"${stageDir(dir)}/s26_snap"
        val p = new org.apache.hadoop.fs.Path(root)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(p, true) // rebuild the fixture table each run
        val orders = Tables.orders(s, dir)
          .select("o_orderkey", "o_totalprice", "o_orderpriority")
        (0 to 2).foreach(i => Snapshots.append(
          orders.filter(pmod(col("o_orderkey"), lit(3)) === i), root))
        (1 to 3).map(v => Snapshots.changesSince(s, root, v - 1, v))
          .reduce(_ unionByName _)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum(col("o_totalprice").cast("decimal(18,4)")).cast("double")
              .as("sum_price"))
          .orderBy("o_orderpriority")
      },
      """SELECT o_orderpriority, count(*)::BIGINT AS n_rows,
        |  (sum(CAST(o_totalprice AS DECIMAL(18,4))))::DOUBLE AS sum_price
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // S27: the full layout-to-read loop — append (random layout) →
    // OPTIMIZE ZORDER → stats-pruned read. optimize() narrows per-file
    // ranges on the clustered columns and regenerates manifest stats;
    // readWhere() turns the narrow ranges into skipped files. Content
    // must equal the plain source filter (pruning is proof-based);
    // SnapshotsSpec asserts the skip/span properties themselves.
    QueryDef("s27_optimize_skipping",
      (s, dir) => {
        import graft.ops.Snapshots
        val root = s"${stageDir(dir)}/s27_snap"
        val p = new org.apache.hadoop.fs.Path(root)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(p, true) // rebuild the fixture table each run
        Snapshots.append(
          Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
          root)
        Snapshots.optimize(s, root, Seq("n_chars", "doc_id"), numFiles = 8)
        Snapshots.readWhere(s, root,
          col("n_chars") >= 2000L && col("n_chars") < 4000L)
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"))
          .orderBy("source")
      },
      """SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS sum_chars
        |FROM documents WHERE n_chars >= 2000 AND n_chars < 4000
        |GROUP BY source ORDER BY source""".stripMargin),

    // MERGE INTO (Snapshots.merge): copy-on-write upsert as one atomic
    // version — matched keys update, unmatched source rows insert, and
    // only files whose manifest stats intersect the source's key
    // footprint are rewritten (SnapshotsSpec asserts the untouched-file
    // carry; here the oracle pins the MERGE semantics themselves by
    // replaying update ∪ insert over the same fixture slices).
    QueryDef("s28_merge_upsert",
      (s, dir) => {
        import graft.ops.Snapshots
        val root = s"${stageDir(dir)}/s28_snap"
        val p = new org.apache.hadoop.fs.Path(root)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(p, true)
        val base = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        // two appends = multiple files with interleaved key ranges
        Snapshots.append(base.filter(pmod(col("o_orderkey"), lit(2)) === 0),
          root)
        Snapshots.append(base.filter(pmod(col("o_orderkey"), lit(2)) === 1),
          root)
        val updates = base
          .filter(pmod(col("o_orderkey"), lit(97)) === 0)
          .withColumn("o_totalprice", -col("o_totalprice"))
        val inserts = base
          .filter(pmod(col("o_orderkey"), lit(97)) === 1)
          .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
        Snapshots.merge(s, root, updates.unionByName(inserts),
          Seq("o_orderkey"))
        Snapshots.read(s, root).orderBy("o_orderkey")
      },
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |src AS (
        |  SELECT o_orderkey, o_custkey, -o_totalprice AS o_totalprice
        |  FROM base WHERE o_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice
        |  FROM base WHERE o_orderkey % 97 = 1)
        |SELECT * FROM (
        |  SELECT * FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
        |  UNION ALL SELECT * FROM src)
        |ORDER BY o_orderkey""".stripMargin),

    // Copy-on-write DELETE (Snapshots.deleteWhere): content after the
    // delete must equal the complement filter exactly, including the
    // kept NULL-predicate rows; SnapshotsSpec asserts the file-class
    // behavior (untouched carry, whole-file drops), the oracle pins the
    // row semantics. The date range makes both prune directions real:
    // month-files outside it carry, files inside it drop whole.
    QueryDef("s29_snapshot_delete",
      (s, dir) => {
        import graft.ops.Snapshots
        val root = s"${stageDir(dir)}/s29_snap"
        val p = new org.apache.hadoop.fs.Path(root)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(p, true)
        val base = Tables.orders(s, dir)
          .select("o_orderkey", "o_orderdate", "o_totalprice")
        // year-sliced appends = date-clustered files, so the delete's
        // range prunes in BOTH directions (outside years carry
        // untouched, the deleted year drops whole); the fixture's
        // order dates span 1995-2001
        (1995 to 2001).foreach(y => Snapshots.append(
          base.filter(year(col("o_orderdate")) === y).coalesce(1), root))
        Snapshots.deleteWhere(s, root,
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp_ntz"))
        Snapshots.read(s, root)
          .groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
          .agg(count(lit(1)).cast("long").as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("sum_price"))
          .orderBy("order_year")
      },
      """SELECT year(o_orderdate)::BIGINT AS order_year,
        |  count(*)::BIGINT AS n_orders,
        |  (sum(CAST(o_totalprice AS DECIMAL(18,2))))::DOUBLE AS sum_price
        |FROM orders
        |WHERE NOT (o_orderdate >= '1996-01-01'::TIMESTAMP
        |  AND o_orderdate < '1997-01-01'::TIMESTAMP)
        |GROUP BY 1 ORDER BY order_year""".stripMargin),

    // S30: the delta-manifest lifecycle end-to-end — ten appends (the
    // chain crosses its depth bound, forcing a full checkpoint at
    // v10), a MERGE and a DELETE that commit as delta manifests with
    // `#remove` lines, then a vacuum that must retain the delta chain
    // the surviving versions resolve through. The final read is
    // byte-compared against the oracle's replay of the same
    // update+delete from the source table — if chain resolution
    // dropped, duplicated, or resurrected a single file anywhere in
    // the 12-commit history, the row hash breaks. DeltaManifestSpec
    // pins the metadata-boundedness property itself (a delta names
    // only its own files); this row pins end-to-end content at SF.
    QueryDef("s30_delta_chain",
      (s, dir) => {
        import graft.ops.Snapshots
        val root = s"${stageDir(dir)}/s30_snap"
        val p = new org.apache.hadoop.fs.Path(root)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(p, true)
        val base = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        (0 until 10).foreach(i => Snapshots.append(
          base.filter(pmod(col("o_orderkey"), lit(10)) === i), root))
        val updates = base
          .filter(pmod(col("o_orderkey"), lit(97)) === 0)
          .withColumn("o_totalprice", -col("o_totalprice"))
        Snapshots.merge(s, root, updates, Seq("o_orderkey"))
        Snapshots.deleteWhere(s, root,
          pmod(col("o_orderkey"), lit(5)) === lit(4))
        Snapshots.vacuum(s, root, 3)
        Snapshots.read(s, root).orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 97 = 0 THEN -o_totalprice
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders WHERE o_orderkey % 5 <> 4
        |ORDER BY o_orderkey""".stripMargin),

    // S31: column mapping — RENAME COLUMN is a metadata-only commit
    // (zero files move; the physical parquet column name never
    // changes), so files written BEFORE the rename and files appended
    // AFTER it (which arrive in the new logical shape but stage under
    // the original physical name) must read as one uniform table.
    // DROP COLUMN then removes a field going forward while history
    // keeps it. The oracle replays the rename as a plain alias over
    // the source — if either era's files fed the wrong column (the
    // failure mode column mapping exists to prevent), every row after
    // the rename boundary would hash-mismatch.
    QueryDef("s31_rename_drop",
      (s, dir) => {
        import graft.ops.Snapshots
        val root = s"${stageDir(dir)}/s31_snap"
        val p = new org.apache.hadoop.fs.Path(root)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(p, true)
        val base = Tables.orders(s, dir)
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
        Snapshots.append(
          base.filter(pmod(col("o_orderkey"), lit(3)) === 0), root)
        Snapshots.append(
          base.filter(pmod(col("o_orderkey"), lit(3)) === 1), root)
        Snapshots.renameColumn(s, root, "o_totalprice", "price")
        Snapshots.append(
          base.filter(pmod(col("o_orderkey"), lit(3)) === 2)
            .withColumnRenamed("o_totalprice", "price"), root)
        Snapshots.dropColumn(s, root, "o_orderstatus")
        Snapshots.read(s, root).orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_totalprice AS price
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // S32: per-file bloom sidecar pruning — the point-lookup
    // complement of s25's range skipping. Seven residue-class appends
    // build an UNCLUSTERED table (every file spans the whole key
    // range, so min/max stats cannot prune an equality), then
    // readWhere on an IN-set of keys must still return exactly the
    // oracle's rows while the sidecars prune the non-member files
    // (BloomIndexSpec asserts the file-skipping property itself;
    // bloom false positives can only ADD files, never rows — the row
    // result is pruning-invariant by construction).
    QueryDef("s32_bloom_point_lookup",
      (s, dir) => {
        import graft.ops.Snapshots
        val root = s"${stageDir(dir)}/s32_snap"
        val p = new org.apache.hadoop.fs.Path(root)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(p, true)
        val base = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        Snapshots.append(
          base.filter(pmod(col("o_orderkey"), lit(7)) === 0), root)
        Snapshots.setBloomColumns(s, root, Seq("o_orderkey"),
          expectedItems = 300000, fpp = 0.01)
        (1 until 7).foreach(i => Snapshots.append(
          base.filter(pmod(col("o_orderkey"), lit(7)) === i), root))
        Snapshots.readWhere(s, root,
          col("o_orderkey").isin(1L, 2L, 7L, 33L, 999999999L))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey IN (1, 2, 7, 33, 999999999)
        |ORDER BY o_orderkey""".stripMargin),

    // S33: metadata-only aggregates — Snapshots.aggregateFromManifest.
    // Row count, null-aware column count, and min/max watermarks
    // answered from manifest stats with ZERO data files opened (the
    // oracle recomputes them the slow way, by scanning); at 100 TB this
    // is the difference between a KB of manifest lines and a full
    // table scan for the freshness/rowcount checks every pipeline runs.
    // MetaAggSpec proves the no-data-read property itself (the answer
    // survives deleting the data bytes) and the exact-or-refuse
    // contract (missing stats → None, never an approximation).
    QueryDef("s33_meta_aggregate",
      (s, dir) => {
        import graft.ops.Snapshots
        val root = s"${stageDir(dir)}/s33_snap"
        val p = new org.apache.hadoop.fs.Path(root)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(p, true) // rebuild the fixture table each run
        val base = Tables.lineitem(s, dir)
          .select("l_orderkey", "l_quantity", "l_extendedprice",
            "l_shipdate")
        (0 to 2).foreach(i => Snapshots.append(
          base.filter(pmod(col("l_orderkey"), lit(3)) === i), root))
        Snapshots.aggregateFromManifest(s, root,
            Seq("l_quantity", "l_shipdate")).get
          .select(col("n_rows"),
            col("n_l_quantity").as("n_qty"),
            col("min_l_quantity").as("min_qty"),
            col("max_l_quantity").as("max_qty"),
            col("min_l_shipdate").cast("date").cast("string").as("min_ship"),
            col("max_l_shipdate").cast("date").cast("string").as("max_ship"))
      },
      """SELECT count(*)::BIGINT AS n_rows,
        |  count(l_quantity)::BIGINT AS n_qty,
        |  min(l_quantity) AS min_qty,
        |  max(l_quantity) AS max_qty,
        |  CAST(CAST(min(l_shipdate) AS DATE) AS VARCHAR) AS min_ship,
        |  CAST(CAST(max(l_shipdate) AS DATE) AS VARCHAR) AS max_ship
        |FROM lineitem""".stripMargin),

    // S34: shallow clone — Snapshots.shallowClone. The clone is ONE
    // manifest write referencing the source's immutable files by
    // absolute path (zero data copied — on a 100 TB table, a free
    // dev/test branch); writes then diverge per table. Two slices build
    // the source, the third is appended to the CLONE only, so the
    // result proves both the zero-copy read (clone sees the source's
    // slices) and the divergence (source keeps 2/3, clone has 3/3 —
    // the two sides of the output differ exactly by slice 2's rows).
    // CloneHistorySpec proves the zero-bytes/ownership properties.
    QueryDef("s34_shallow_clone",
      (s, dir) => {
        import graft.ops.Snapshots
        val src = s"${stageDir(dir)}/s34_src"
        val dst = s"${stageDir(dir)}/s34_clone"
        Seq(src, dst).foreach { r =>
          val p = new org.apache.hadoop.fs.Path(r)
          p.getFileSystem(s.sparkContext.hadoopConfiguration)
            .delete(p, true) // rebuild the fixture tables each run
        }
        val base = Tables.part(s, dir)
          .select("p_partkey", "p_size", "p_retailprice")
        Snapshots.append(
          base.filter(pmod(col("p_partkey"), lit(3)) === 0), src)
        Snapshots.append(
          base.filter(pmod(col("p_partkey"), lit(3)) === 1), src)
        Snapshots.shallowClone(s, src, dst)
        Snapshots.append(
          base.filter(pmod(col("p_partkey"), lit(3)) === 2), dst)
        def agg(side: String, root: String) =
          Snapshots.read(s, root).groupBy("p_size")
            .agg(count(lit(1)).cast("long").as("n_parts"),
              sum(col("p_retailprice").cast("decimal(18,4)")).cast("double")
                .as("sum_price"))
            .select(lit(side).as("side"), col("p_size"), col("n_parts"),
              col("sum_price"))
        agg("clone", dst).unionByName(agg("source", src))
          .orderBy("side", "p_size")
      },
      """WITH sides AS (
        |  SELECT 'clone' AS side, p_size, p_retailprice FROM part
        |  UNION ALL
        |  SELECT 'source', p_size, p_retailprice FROM part
        |    WHERE p_partkey % 3 <> 2)
        |SELECT side, p_size, count(*)::BIGINT AS n_parts,
        |  (sum(CAST(p_retailprice AS DECIMAL(18,4))))::DOUBLE AS sum_price
        |FROM sides GROUP BY side, p_size
        |ORDER BY side, p_size""".stripMargin),

    // S35: bucketed snapshot layout — Snapshots.optimizeBucketed +
    // bucketedTable. Two versioned tables bucketed alike on the join
    // key plan their fact-fact join with ZERO shuffle exchanges
    // (BucketedSnapshotSpec asserts the plan property with broadcast
    // disabled); the shuffle is paid once at layout time, not on every
    // join — at two 100 TB tables meeting daily, that is the
    // difference between one network pass ever and one per run. The
    // oracle is the PLAIN join: layout must never change content.
    QueryDef("s35_bucketed_snapshot_join",
      (s, dir) => {
        import graft.ops.Snapshots
        val rootO = s"${stageDir(dir)}/s35_orders"
        val rootC = s"${stageDir(dir)}/s35_customer"
        Seq(rootO, rootC).foreach { r =>
          val p = new org.apache.hadoop.fs.Path(r)
          p.getFileSystem(s.sparkContext.hadoopConfiguration)
            .delete(p, true) // rebuild the fixture tables each run
        }
        Snapshots.append(Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice"), rootO)
        Snapshots.append(Tables.customer(s, dir)
          .select("c_custkey", "c_mktsegment"), rootC)
        Snapshots.optimizeBucketed(s, rootO, Seq("o_custkey"), 8)
        Snapshots.optimizeBucketed(s, rootC, Seq("c_custkey"), 8)
        Snapshots.bucketedTable(s, rootO, "s35_bkt_orders")
          .join(Snapshots.bucketedTable(s, rootC, "s35_bkt_customer"),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).cast("long").as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,4)")).cast("double")
              .as("sum_price"))
          .orderBy("c_mktsegment")
      },
      """SELECT c_mktsegment, count(*)::BIGINT AS n_orders,
        |  (sum(CAST(o_totalprice AS DECIMAL(18,4))))::DOUBLE AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // S36: deletion-vector DELETE — Snapshots.deleteWhere on a
    // `merge-on-read` table. The scattered-narrow-delete shape (every
    // 1000th key) that makes copy-on-write rewrite nearly every file;
    // the vector path commits O(matching rows) of sidecar positions and
    // rewrites NOTHING (DeletionVectorSpec asserts the zero-rewrite
    // property; this oracle asserts the semantics: the read equals the
    // predicate complement exactly, through the anti-join read path).
    QueryDef("s36_deletion_vector",
      (s, dir) => {
        import graft.ops.Snapshots
        val root = s"${stageDir(dir)}/s36_snap"
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        val orders = Tables.orders(s, dir)
          .select("o_orderkey", "o_totalprice", "o_orderpriority")
        (0 to 1).foreach(i => Snapshots.append(
          orders.filter(pmod(col("o_orderkey"), lit(2)) === i), root))
        Snapshots.setProperty(s, root, Snapshots.DmlModeKey, "merge-on-read")
        Snapshots.deleteWhere(s, root,
          pmod(col("o_orderkey"), lit(1000)) === 7L)
        Snapshots.read(s, root)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum(col("o_totalprice").cast("decimal(18,4)")).cast("double")
              .as("sum_price"))
          .orderBy("o_orderpriority")
      },
      """SELECT o_orderpriority, count(*)::BIGINT AS n_rows,
        |  (sum(CAST(o_totalprice AS DECIMAL(18,4))))::DOUBLE AS sum_price
        |FROM orders WHERE o_orderkey % 1000 <> 7
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // S37: deletion-vector MERGE — Snapshots.merge on a `merge-on-read`
    // table. The s28 upsert replayed through the O(source +
    // matched-positions) path: matched table rows retire by vector,
    // the source appends, nothing rewrites — the CDC-trickle MERGE
    // shape at 100 TB. Oracle is s28's: both MERGE paths must produce
    // the identical table.
    QueryDef("s37_merge_light",
      (s, dir) => {
        import graft.ops.Snapshots
        val root = s"${stageDir(dir)}/s37_snap"
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        val base = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        Snapshots.append(base.filter(pmod(col("o_orderkey"), lit(2)) === 0),
          root)
        Snapshots.append(base.filter(pmod(col("o_orderkey"), lit(2)) === 1),
          root)
        val updates = base
          .filter(pmod(col("o_orderkey"), lit(97)) === 0)
          .withColumn("o_totalprice", -col("o_totalprice"))
        val inserts = base
          .filter(pmod(col("o_orderkey"), lit(97)) === 1)
          .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
        Snapshots.setProperty(s, root, Snapshots.DmlModeKey, "merge-on-read")
        Snapshots.merge(s, root, updates.unionByName(inserts),
          Seq("o_orderkey"))
        Snapshots.read(s, root).orderBy("o_orderkey")
      },
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |src AS (
        |  SELECT o_orderkey, o_custkey, -o_totalprice AS o_totalprice
        |  FROM base WHERE o_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice
        |  FROM base WHERE o_orderkey % 97 = 1)
        |SELECT * FROM (
        |  SELECT * FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
        |  UNION ALL SELECT * FROM src)
        |ORDER BY o_orderkey""".stripMargin),

    // The SQL-over-catalog surface end-to-end: a snapshot table
    // created, loaded, and mutated PURELY through spark.sql against
    // the DSv2 catalog (graft.sql.GraftCatalog + the GraftResolution
    // bridge) — CTAS, INSERT INTO, DELETE FROM, MERGE INTO, UPDATE,
    // then a read that time-travels with VERSION AS OF next to the
    // current state. Versions are deterministic: CTAS commits v1
    // (ONE atomic commit — schema + rows, via the staging catalog),
    // INSERT v2, DELETE v3, MERGE v4, UPDATE v5. The oracle replays
    // every step from the source predicates.
    QueryDef("s38_sql_catalog_dml",
      (s, dir) => {
        // per-process warehouse: stable across the warm/timed phases
        // of one Bench session (the catalog instance caches its
        // warehouse at first use), unique across concurrent JVMs
        val wh = s"${System.getProperty("java.io.tmpdir")}/graft_s38_wh_" +
          ProcessHandle.current().pid()
        s.conf.set("spark.sql.catalog.gsq", "graft.sql.GraftCatalog")
        s.conf.set("spark.sql.catalog.gsq.warehouse", wh)
        s.sql("DROP TABLE IF EXISTS gsq.default.s38")
        Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .createOrReplaceTempView("s38_base")
        s.sql("""CREATE TABLE gsq.default.s38 AS
          SELECT * FROM s38_base WHERE o_orderkey % 2 = 0""")
        s.sql("""INSERT INTO gsq.default.s38
          SELECT * FROM s38_base WHERE o_orderkey % 2 = 1""")
        s.sql("DELETE FROM gsq.default.s38 WHERE o_custkey % 10 = 3")
        s.sql("""SELECT o_orderkey, o_custkey, -o_totalprice AS o_totalprice
          FROM s38_base WHERE o_orderkey % 97 = 0
          UNION ALL
          SELECT o_orderkey + 10000000, o_custkey, o_totalprice
          FROM s38_base WHERE o_orderkey % 97 = 1""")
          .createOrReplaceTempView("s38_src")
        s.sql("""MERGE INTO gsq.default.s38 t USING s38_src s
          ON t.o_orderkey = s.o_orderkey
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""")
        s.sql("""UPDATE gsq.default.s38 SET o_totalprice = o_totalprice * 2
          WHERE o_orderkey % 5 = 0""")
        s.sql("""SELECT 'postmerge' AS at_version, o_orderkey, o_custkey,
            o_totalprice
          FROM gsq.default.s38 VERSION AS OF 4
          UNION ALL
          SELECT 'cur' AS at_version, o_orderkey, o_custkey, o_totalprice
          FROM gsq.default.s38
          ORDER BY at_version, o_orderkey""")
      },
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |v4 AS (
        |  SELECT * FROM base WHERE NOT (o_custkey % 10 = 3)),
        |src AS (
        |  SELECT o_orderkey, o_custkey, -o_totalprice AS o_totalprice
        |  FROM base WHERE o_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice
        |  FROM base WHERE o_orderkey % 97 = 1),
        |v5 AS (
        |  SELECT * FROM v4
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
        |  UNION ALL SELECT * FROM src),
        |v6 AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM v5)
        |SELECT * FROM (
        |  SELECT 'postmerge' AS at_version, * FROM v5
        |  UNION ALL SELECT 'cur' AS at_version, * FROM v6)
        |ORDER BY at_version, o_orderkey""".stripMargin),

    // CDC tombstone application (Snapshots.deleteMatching / SQL
    // MERGE ... WHEN MATCHED THEN DELETE): delete-by-key-frame with
    // merge-style footprint pruning — the tombstone batch is far
    // beyond any in-set literal cap, which is exactly why the
    // predicate is a frame, not a Column. Oracle replays as NOT IN.
    QueryDef("s39_merge_delete",
      (s, dir) => {
        import graft.ops.Snapshots
        val root = s"${stageDir(dir)}/s39_snap"
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        val base = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        // two key-interleaved appends, like s28
        Snapshots.append(base.filter(pmod(col("o_orderkey"), lit(2)) === 0),
          root)
        Snapshots.append(base.filter(pmod(col("o_orderkey"), lit(2)) === 1),
          root)
        val tombstones = base
          .filter(pmod(col("o_custkey"), lit(7)) === 3)
          .select("o_orderkey")
        Snapshots.deleteMatching(s, root, tombstones, Seq("o_orderkey"))
        Snapshots.read(s, root).orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey NOT IN (
        |  SELECT o_orderkey FROM orders WHERE o_custkey % 7 = 3)
        |ORDER BY o_orderkey""".stripMargin),

    // The row-level CHANGE FEED across DML commits
    // (Snapshots.changeFeed / readChangeFeed on the stream source):
    // a table receives two appends, a MERGE upsert (updates + new
    // keys), and a tombstone DELETE; the feed decomposes every commit
    // into _change_type-tagged rows — the CDC-consumer read the
    // reference's funding-upsert → derived-stats loop needs
    // (scripts/funding_rates_etl.py:100-111). The MERGE commit pairs
    // by its recorded keys: matched rows surface as
    // update_preimage/update_postimage, fresh keys as insert — a CDC
    // consumer can tell an update from an unrelated delete+insert.
    // The rollup aggregates the feed per (commit, change type); the
    // oracle replays each commit's exact row-level delta from the
    // source predicates.
    QueryDef("s40_change_feed_rollup",
      (s, dir) => {
        import graft.ops.Snapshots
        val root = s"${stageDir(dir)}/s40_snap"
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        val base = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        Snapshots.append(base.filter(pmod(col("o_orderkey"), lit(2)) === 0),
          root) // v1
        Snapshots.append(base.filter(pmod(col("o_orderkey"), lit(2)) === 1),
          root) // v2
        val src = base.filter(pmod(col("o_orderkey"), lit(97)) === 0)
          .withColumn("o_totalprice", -col("o_totalprice"))
          .unionByName(base.filter(pmod(col("o_orderkey"), lit(97)) === 1)
            .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
        Snapshots.merge(s, root, src, Seq("o_orderkey")) // v3: upsert
        val v3state = base.withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(97)) === 0, -col("o_totalprice"))
            .otherwise(col("o_totalprice")))
          .unionByName(base.filter(pmod(col("o_orderkey"), lit(97)) === 1)
            .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
        Snapshots.deleteMatching(s, root,
          v3state.filter(pmod(col("o_custkey"), lit(7)) === 3)
            .select("o_orderkey"), Seq("o_orderkey")) // v4: tombstones
        Snapshots.changeFeed(s, root, 0)
          .groupBy(col("_change_type"), col("_commit_version"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)")).as("sum_price"))
          .orderBy("_commit_version", "_change_type")
      },
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |v3_state AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 97 = 0 THEN -o_totalprice
        |         ELSE o_totalprice END AS o_totalprice FROM base
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice
        |  FROM base WHERE o_orderkey % 97 = 1),
        |feed AS (
        |  SELECT 'insert' AS _change_type, 1 AS _commit_version,
        |    o_totalprice FROM base WHERE o_orderkey % 2 = 0
        |  UNION ALL SELECT 'insert', 2, o_totalprice
        |    FROM base WHERE o_orderkey % 2 = 1
        |  UNION ALL SELECT 'update_postimage', 3, -o_totalprice
        |    FROM base WHERE o_orderkey % 97 = 0
        |  UNION ALL SELECT 'insert', 3, o_totalprice
        |    FROM base WHERE o_orderkey % 97 = 1
        |  UNION ALL SELECT 'update_preimage', 3, o_totalprice
        |    FROM base WHERE o_orderkey % 97 = 0
        |  UNION ALL SELECT 'delete', 4, o_totalprice
        |    FROM v3_state WHERE o_custkey % 7 = 3)
        |SELECT _change_type, _commit_version, count(*) AS n,
        |  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sum_price
        |FROM feed GROUP BY 1, 2
        |ORDER BY _commit_version, _change_type""".stripMargin),

    // SQL DML completeness end-to-end: IN-subquery DELETE (the pure
    // shape routes to the DISTRIBUTED deleteMatching — no driver
    // materialization), a conditional MIXED MERGE (guarded DELETE +
    // fallthrough UPDATE over both sides' columns + guarded INSERT),
    // and an UPDATE with a scalar-subquery predicate — all purely via
    // spark.sql against the DSv2 catalog. The oracle replays every
    // step from source predicates with standard SQL.
    QueryDef("s41_sql_dml_subquery",
      (s, dir) => {
        val wh = s"${System.getProperty("java.io.tmpdir")}/graft_s41_wh_" +
          ProcessHandle.current().pid()
        s.conf.set("spark.sql.catalog.gsq", "graft.sql.GraftCatalog")
        s.conf.set("spark.sql.catalog.gsq.warehouse", wh)
        s.sql("DROP TABLE IF EXISTS gsq.default.s41")
        Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .createOrReplaceTempView("s41_base")
        s.sql("CREATE TABLE gsq.default.s41 AS SELECT * FROM s41_base")
        s.sql("""DELETE FROM gsq.default.s41 WHERE o_orderkey IN (
          SELECT o_orderkey FROM s41_base WHERE o_custkey % 9 = 4)""")
        s.sql("""SELECT o_orderkey, o_custkey, o_totalprice
          FROM s41_base WHERE o_orderkey % 53 = 1
          UNION ALL
          SELECT o_orderkey + 20000000, o_custkey, o_totalprice
          FROM s41_base WHERE o_orderkey % 53 = 2""")
          .createOrReplaceTempView("s41_src")
        s.sql("""MERGE INTO gsq.default.s41 t USING s41_src s
          ON t.o_orderkey = s.o_orderkey
          WHEN MATCHED AND s.o_totalprice > 300000.0 THEN DELETE
          WHEN MATCHED THEN
            UPDATE SET o_totalprice = t.o_totalprice + s.o_totalprice
          WHEN NOT MATCHED AND s.o_custkey % 2 = 0 THEN INSERT *""")
        s.sql("""UPDATE gsq.default.s41 SET o_totalprice = o_totalprice * 2
          WHERE o_custkey > (SELECT max(o_custkey) FROM s41_base) - 500""")
        // correlated-equality EXISTS: decomposes to the DISTRIBUTED
        // key-frame delete (semi-join = tombstone match), any
        // cardinality, no driver materialization
        s.sql("""DELETE FROM gsq.default.s41 t WHERE EXISTS (
          SELECT 1 FROM s41_base b
          WHERE b.o_orderkey = t.o_orderkey AND b.o_custkey % 13 = 6)""")
        // correlated NOT EXISTS — the retention sweep: rows with no
        // surviving reference row delete via the DISTRIBUTED anti
        // key frame (target keys anti-join the subquery frame)
        s.sql("""DELETE FROM gsq.default.s41 t WHERE NOT EXISTS (
          SELECT 1 FROM s41_base b
          WHERE b.o_orderkey = t.o_orderkey AND b.o_custkey % 17 != 3)""")
        // single-column NOT IN (subquery): distributed with exact
        // three-valued semantics...
        s.sql("""DELETE FROM gsq.default.s41 WHERE o_orderkey NOT IN (
          SELECT o_orderkey FROM s41_base WHERE o_custkey % 5 != 1)""")
        // ...including the NULL-in-set case: this subquery contains
        // NULLs, so no row's NOT IN is TRUE — a committed no-op
        s.sql("""DELETE FROM gsq.default.s41 WHERE o_orderkey NOT IN (
          SELECT CASE WHEN o_custkey % 100 = 17 THEN NULL
                      ELSE o_orderkey END FROM s41_base)""")
        s.sql("""SELECT o_orderkey, o_custkey, o_totalprice
          FROM gsq.default.s41 ORDER BY o_orderkey""")
      },
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |after_del AS (
        |  SELECT * FROM base WHERE o_orderkey NOT IN (
        |    SELECT o_orderkey FROM base WHERE o_custkey % 9 = 4)),
        |m_src AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM base WHERE o_orderkey % 53 = 1
        |  UNION ALL
        |  SELECT o_orderkey + 20000000, o_custkey, o_totalprice
        |  FROM base WHERE o_orderkey % 53 = 2),
        |keep AS (
        |  SELECT * FROM after_del
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM m_src)),
        |upd AS (
        |  SELECT t.o_orderkey, t.o_custkey,
        |    t.o_totalprice + s.o_totalprice AS o_totalprice
        |  FROM after_del t JOIN m_src s ON t.o_orderkey = s.o_orderkey
        |  WHERE NOT (s.o_totalprice > 300000.0)),
        |ins AS (
        |  SELECT s.* FROM m_src s
        |  WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM after_del)
        |    AND s.o_custkey % 2 = 0),
        |merged AS (
        |  SELECT * FROM keep UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM ins)
        |SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_custkey > (SELECT max(o_custkey) FROM base) - 500
        |       THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
        |FROM merged
        |WHERE o_orderkey NOT IN (
        |  SELECT o_orderkey FROM base WHERE o_custkey % 13 = 6)
        |  AND o_orderkey IN (
        |    SELECT o_orderkey FROM base WHERE o_custkey % 17 != 3)
        |  AND o_orderkey IN (
        |    SELECT o_orderkey FROM base WHERE o_custkey % 5 != 1)
        |ORDER BY o_orderkey""".stripMargin),

    // The COMPLETE MERGE matrix in one statement — matched UPDATE,
    // not-matched INSERT, and both WHEN NOT MATCHED BY SOURCE verbs
    // (guarded DELETE + fallthrough UPDATE over target-only rows).
    // BY SOURCE clauses classify every target row by definition, so
    // the classification join runs FULL OUTER with point-merge
    // pruning forfeited; all four verdicts still land as ONE atomic
    // merge-mixed commit. The oracle replays each classification from
    // the source predicates.
    QueryDef("s42_merge_by_source",
      (s, dir) => {
        val wh = s"${System.getProperty("java.io.tmpdir")}/graft_s42_wh_" +
          ProcessHandle.current().pid()
        s.conf.set("spark.sql.catalog.gsq", "graft.sql.GraftCatalog")
        s.conf.set("spark.sql.catalog.gsq.warehouse", wh)
        s.sql("DROP TABLE IF EXISTS gsq.default.s42")
        Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .createOrReplaceTempView("s42_base")
        s.sql("CREATE TABLE gsq.default.s42 AS SELECT * FROM s42_base")
        s.sql("""SELECT o_orderkey, o_custkey,
            o_totalprice * 0.5 AS o_totalprice
          FROM s42_base WHERE o_orderkey % 5 = 0
          UNION ALL
          SELECT o_orderkey + 30000000, o_custkey, o_totalprice
          FROM s42_base WHERE o_orderkey % 101 = 7""")
          .createOrReplaceTempView("s42_src")
        s.sql("""MERGE INTO gsq.default.s42 t USING s42_src s
          ON t.o_orderkey = s.o_orderkey
          WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
          WHEN NOT MATCHED THEN INSERT *
          WHEN NOT MATCHED BY SOURCE AND t.o_custkey % 11 = 0 THEN DELETE
          WHEN NOT MATCHED BY SOURCE THEN
            UPDATE SET o_totalprice = -t.o_totalprice""")
        s.sql("""SELECT o_orderkey, o_custkey, o_totalprice
          FROM gsq.default.s42 ORDER BY o_orderkey""")
      },
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |src AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice * 0.5 AS o_totalprice
        |  FROM base WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 30000000, o_custkey, o_totalprice
        |  FROM base WHERE o_orderkey % 101 = 7),
        |matched AS (
        |  SELECT t.o_orderkey, t.o_custkey, s.o_totalprice
        |  FROM base t JOIN src s ON t.o_orderkey = s.o_orderkey),
        |ins AS (
        |  SELECT s.o_orderkey, s.o_custkey, s.o_totalprice FROM src s
        |  WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM base)),
        |by_src AS (
        |  SELECT * FROM base WHERE o_orderkey NOT IN (
        |    SELECT o_orderkey FROM src)),
        |by_src_kept AS (
        |  SELECT o_orderkey, o_custkey, -o_totalprice AS o_totalprice
        |  FROM by_src WHERE NOT (o_custkey % 11 = 0))
        |SELECT o_orderkey, o_custkey, o_totalprice FROM matched
        |UNION ALL SELECT o_orderkey, o_custkey, o_totalprice FROM ins
        |UNION ALL SELECT o_orderkey, o_custkey, o_totalprice FROM by_src_kept
        |ORDER BY o_orderkey""".stripMargin),

    // Scoped overwrite (REPLACE WHERE) — the 100 TB-safe
    // truncate-and-reload: an idempotent backfill replaces exactly its
    // own slice as ONE atomic commit, file-pruned to the slice's
    // files. Exercised through BOTH surfaces: the SQL
    // `INSERT INTO ... REPLACE WHERE` (range predicate, translated
    // exactly to source filters) and the Scala API
    // `Snapshots.replaceWhere` (arbitrary Column predicate the SQL
    // filter vocabulary cannot express). The oracle replays each
    // replace as delete-scope + insert-load.
    QueryDef("s43_replace_where",
      (s, dir) => {
        import graft.ops.Snapshots
        val wh = s"${System.getProperty("java.io.tmpdir")}/graft_s43_wh_" +
          ProcessHandle.current().pid()
        s.conf.set("spark.sql.catalog.g43", "graft.sql.GraftCatalog")
        s.conf.set("spark.sql.catalog.g43.warehouse", wh)
        s.sql("DROP TABLE IF EXISTS g43.default.s43")
        Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .createOrReplaceTempView("s43_base")
        s.sql("CREATE TABLE g43.default.s43 AS SELECT * FROM s43_base")
        // SQL surface: re-load the low-key slice (range predicate)
        s.sql("""INSERT INTO g43.default.s43 REPLACE WHERE o_orderkey < 30000
          SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
          FROM s43_base WHERE o_orderkey < 30000 AND o_custkey % 3 = 0""")
        // Scala surface: a predicate outside the SQL filter vocabulary
        Snapshots.replaceWhere(s, s"$wh/default/s43",
          pmod(col("o_custkey"), lit(7)) === 2,
          Tables.orders(s, dir)
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .filter(pmod(col("o_custkey"), lit(7)) === 2 &&
              pmod(col("o_orderkey"), lit(5)) === 1)
            .withColumn("o_totalprice", col("o_totalprice") + 1.0))
        s.sql("""SELECT o_orderkey, o_custkey, o_totalprice
          FROM g43.default.s43 ORDER BY o_orderkey""")
      },
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |s1 AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM base
        |  WHERE o_orderkey >= 30000
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
        |  FROM base WHERE o_orderkey < 30000 AND o_custkey % 3 = 0),
        |s2 AS (
        |  SELECT * FROM s1 WHERE NOT (o_custkey % 7 = 2)
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1.0 AS o_totalprice
        |  FROM base WHERE o_custkey % 7 = 2 AND o_orderkey % 5 = 1)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM s2
        |ORDER BY o_orderkey""".stripMargin),

    // Metadata-only aggregates on the SQL path — the 100 TB count(*):
    // whole-table count/count(col)/min/max over a catalog snapshot
    // table answer from manifest stats without opening a data file
    // (GraftResolution.metadataAggregate, exact-or-fall-through). t1
    // is append-only (every aggregate metadata-answered — enforced
    // in-query: the plan must carry no FileScan); t2 received a
    // deletion-vector DELETE, so count(*) stays metadata (exact
    // per-vector position counts subtract) while min/max fall through
    // to the DV-applying scan — both sides oracle-replayed.
    QueryDef("s44_meta_agg_sql",
      (s, dir) => {
        val wh = s"${System.getProperty("java.io.tmpdir")}/graft_s44_wh_" +
          ProcessHandle.current().pid()
        s.conf.set("spark.sql.catalog.g44", "graft.sql.GraftCatalog")
        s.conf.set("spark.sql.catalog.g44.warehouse", wh)
        s.sql("DROP TABLE IF EXISTS g44.default.t1")
        s.sql("DROP TABLE IF EXISTS g44.default.t2")
        Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .createOrReplaceTempView("s44_base")
        s.sql("""CREATE TABLE g44.default.t1 AS
          SELECT * FROM s44_base WHERE o_orderkey % 2 = 0""")
        s.sql("""INSERT INTO g44.default.t1 SELECT * FROM s44_base
          WHERE o_orderkey % 2 = 1 AND o_custkey % 3 = 0""")
        s.sql("""CREATE TABLE g44.default.t2
          TBLPROPERTIES ('dml.mode' = 'merge-on-read') AS
          SELECT * FROM s44_base WHERE o_orderkey % 5 < 3""")
        s.sql("DELETE FROM g44.default.t2 WHERE o_custkey % 7 = 3")
        val a = s.sql("""SELECT count(*) AS t1_n,
          count(o_custkey) AS t1_nc, min(o_totalprice) AS t1_min_price,
          max(o_orderkey) AS t1_max_key FROM g44.default.t1""")
        val b = s.sql("SELECT count(*) AS t2_n FROM g44.default.t2")
        // self-verifying fast path: these two must never scan data
        Seq(a, b).foreach(df => require(
          !df.queryExecution.executedPlan.toString.contains("FileScan"),
          "s44: whole-table aggregate was not metadata-answered"))
        val c = s.sql("""SELECT min(o_totalprice) AS t2_min_price,
          max(o_orderkey) AS t2_max_key FROM g44.default.t2""")
        // the stats-DECIDED filtered path: aggregates under a WHERE —
        // files proven all-match/no-match decide from stats, boundary
        // files scan, exact either way
        val d = s.sql("""SELECT count(*) AS w_n,
          min(o_totalprice) AS w_min_price, max(o_orderkey) AS w_max_key
          FROM g44.default.t1
          WHERE o_orderkey >= 3000 AND o_orderkey < 9000""")
        a.crossJoin(b).crossJoin(c).crossJoin(d)
      },
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |t1 AS (
        |  SELECT * FROM base WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT * FROM base WHERE o_orderkey % 2 = 1 AND o_custkey % 3 = 0),
        |t2 AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey % 5 < 3 AND NOT (o_custkey % 7 = 3)),
        |a AS (
        |  SELECT count(*) AS t1_n, count(o_custkey) AS t1_nc,
        |         min(o_totalprice) AS t1_min_price,
        |         max(o_orderkey) AS t1_max_key FROM t1),
        |b AS (SELECT count(*) AS t2_n FROM t2),
        |c AS (
        |  SELECT min(o_totalprice) AS t2_min_price,
        |         max(o_orderkey) AS t2_max_key FROM t2),
        |d AS (
        |  SELECT count(*) AS w_n, min(o_totalprice) AS w_min_price,
        |         max(o_orderkey) AS w_max_key FROM t1
        |  WHERE o_orderkey >= 3000 AND o_orderkey < 9000)
        |SELECT * FROM a, b, c, d""".stripMargin),

    // The change feed from pure SQL: the `table_changes` table-valued
    // function ([[graft.sql.GraftTableFunctions]]) over a catalog
    // table whose history is CTAS (one commit), an INSERT, and a
    // deletion-vector DELETE — the feed decomposes all three into
    // _change_type rows that a SQL consumer rolls up or joins with no
    // Scala in the loop. The oracle replays each commit's exact
    // row-level delta from the source predicates.
    QueryDef("s45_table_changes_tvf",
      (s, dir) => {
        val wh = s"${System.getProperty("java.io.tmpdir")}/graft_s45_wh_" +
          ProcessHandle.current().pid()
        s.conf.set("spark.sql.catalog.g45", "graft.sql.GraftCatalog")
        s.conf.set("spark.sql.catalog.g45.warehouse", wh)
        s.sql("DROP TABLE IF EXISTS g45.default.t")
        Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .createOrReplaceTempView("s45_base")
        s.sql("""CREATE TABLE g45.default.t
          TBLPROPERTIES ('dml.mode' = 'merge-on-read') AS
          SELECT * FROM s45_base WHERE o_orderkey % 2 = 0""") // v1
        s.sql("""INSERT INTO g45.default.t SELECT * FROM s45_base
          WHERE o_orderkey % 2 = 1 AND o_custkey % 5 = 0""") // v2
        s.sql("DELETE FROM g45.default.t WHERE o_custkey % 11 = 4") // v3
        s.sql("""SELECT _change_type, _commit_version,
            o_orderkey, o_custkey, o_totalprice
          FROM table_changes('g45.default.t', 1)
          ORDER BY _commit_version, _change_type, o_orderkey""")
      },
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |v1 AS (SELECT * FROM base WHERE o_orderkey % 2 = 0),
        |v2 AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey % 2 = 1 AND o_custkey % 5 = 0),
        |state AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2),
        |feed AS (
        |  SELECT 'insert' AS _change_type, 1 AS _commit_version, *
        |  FROM v1
        |  UNION ALL SELECT 'insert', 2, * FROM v2
        |  UNION ALL SELECT 'delete', 3, * FROM state
        |  WHERE o_custkey % 11 = 4)
        |SELECT _change_type, _commit_version,
        |  o_orderkey, o_custkey, o_totalprice FROM feed
        |ORDER BY _commit_version, _change_type, o_orderkey""".stripMargin),

    // ADD COLUMN ... DEFAULT end-to-end: pre-evolution files
    // materialize the pinned literal scan-side (EXISTS_DEFAULT);
    // post-evolution rows carry their explicit values, NULLs
    // included. The oracle replays the default from the partition
    // of keys that predate the evolution.
    QueryDef("s48_column_default",
      (s, dir) => {
        import graft.ops.Snapshots
        val root = s"${stageDir(dir)}/s48_snap"
        val p = new org.apache.hadoop.fs.Path(root)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(p, true)
        val base = Tables.supplier(s, dir).select("s_suppkey", "s_acctbal")
        // pre-evolution rows: written BEFORE the column exists —
        // they materialize the pinned default scan-side
        Snapshots.append(base.filter(pmod(col("s_suppkey"), lit(2)) === 0),
          root)
        Snapshots.addColumn(s, root, "tier", StringType, Some("'legacy'"))
        // post-evolution rows carry explicit values — NULLs included
        // (their files HAVE the column, so the default never applies)
        Snapshots.append(base.filter(pmod(col("s_suppkey"), lit(2)) === 1)
          .withColumn("tier",
            when(pmod(col("s_suppkey"), lit(3)) === 0, lit("gold"))),
          root)
        Snapshots.read(s, root)
          .select(col("s_suppkey"),
            col("s_acctbal").cast("double").as("s_acctbal"), col("tier"))
          .orderBy("s_suppkey")
      },
      """SELECT s_suppkey, CAST(s_acctbal AS DOUBLE) AS s_acctbal,
        |  CASE WHEN s_suppkey % 2 = 0 THEN 'legacy'
        |       WHEN s_suppkey % 3 = 0 THEN 'gold'
        |       ELSE NULL END AS tier
        |FROM supplier ORDER BY s_suppkey""".stripMargin),
    QueryDef("s47_merge_evolution",
      (s, dir) => {
        import graft.ops.Snapshots
        val root = s"${stageDir(dir)}/s47_snap"
        val p = new org.apache.hadoop.fs.Path(root)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(p, true)
        val cust = Tables.customer(s, dir)
        Snapshots.append(cust.select("c_custkey", "c_acctbal")
          .filter(col("c_custkey") <= 1500), root)
        try {
          s.conf.set("spark.graft.write.mergeSchema", "true")
          // WIDER source: the extra `seg` column evolves the schema
          // in the SAME commit as the upserted rows
          Snapshots.merge(s, root,
            cust.filter(col("c_custkey") <= 1500 &&
                pmod(col("c_custkey"), lit(3)) === 0)
              .select(col("c_custkey"),
                (col("c_acctbal") + 1000.0).as("c_acctbal"),
                col("c_mktsegment").as("seg")),
            Seq("c_custkey"))
          // NARROWER source mid-history: the lacking `seg` writes
          // NULL on the replaced/inserted rows (replace-by-key)
          Snapshots.merge(s, root,
            cust.filter(col("c_custkey").between(1400, 1600))
              .select(col("c_custkey"), lit(0.0).cast("double")
                .as("c_acctbal")),
            Seq("c_custkey"))
        } finally s.conf.unset("spark.graft.write.mergeSchema")
        Snapshots.read(s, root)
          .select(col("c_custkey"),
            col("c_acctbal").cast("double").as("c_acctbal"), col("seg"))
          .orderBy("c_custkey")
      },
      """WITH base AS (
        |  SELECT c_custkey, c_acctbal FROM customer
        |  WHERE c_custkey <= 1500),
        |m1 AS (
        |  SELECT c_custkey, c_acctbal + 1000.0 AS c_acctbal,
        |    c_mktsegment AS seg
        |  FROM customer WHERE c_custkey <= 1500 AND c_custkey % 3 = 0),
        |s1 AS (
        |  SELECT b.c_custkey,
        |    COALESCE(m1.c_acctbal, b.c_acctbal) AS c_acctbal,
        |    m1.seg AS seg
        |  FROM base b LEFT JOIN m1 USING (c_custkey)),
        |m2 AS (SELECT c_custkey FROM customer
        |  WHERE c_custkey BETWEEN 1400 AND 1600),
        |s2 AS (
        |  SELECT COALESCE(s1.c_custkey, m2.c_custkey) AS c_custkey,
        |    CASE WHEN m2.c_custkey IS NOT NULL THEN 0.0
        |         ELSE s1.c_acctbal END AS c_acctbal,
        |    CASE WHEN m2.c_custkey IS NOT NULL THEN NULL
        |         ELSE s1.seg END AS seg
        |  FROM s1 FULL OUTER JOIN m2 ON s1.c_custkey = m2.c_custkey)
        |SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS c_acctbal, seg
        |FROM s2 ORDER BY c_custkey""".stripMargin),

    // Key-frame UPDATEs end-to-end (Snapshots.updateMatching): the CDC
    // "apply these assignments to the rows these keys name" statement
    // in all the SQL spellings — correlated-equality EXISTS,
    // uncorrelated pure IN-subquery (distributed at any cardinality,
    // where the literal path caps at 100k), correlated IN with a
    // composite (value, correlation) key, and the round-11 ANTI
    // shapes (NOT EXISTS / correlated NOT IN). Each runs as ONE
    // copy-on-write commit whose file footprint tracks the key set.
    // The oracle replays each statement's effect from the source
    // predicates (o_orderkey is unique in orders, so the correlated
    // shapes reduce to per-row conditions).
    QueryDef("s46_update_matching",
      (s, dir) => {
        val wh = s"${System.getProperty("java.io.tmpdir")}/graft_s46_wh_" +
          ProcessHandle.current().pid()
        s.conf.set("spark.sql.catalog.g46", "graft.sql.GraftCatalog")
        s.conf.set("spark.sql.catalog.g46.warehouse", wh)
        s.sql("DROP TABLE IF EXISTS g46.default.t")
        // bounded base (S46KeyBound): every statement's key range
        // sits below it, and the round-11 ANTI statements sweep the
        // whole key space BY SEMANTICS — the fixture bounds the
        // sweep's I/O without weakening any statement. Statement
        // notes live with [[s46Statements]].
        Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .filter(col("o_orderkey") < S46KeyBound)
          .createOrReplaceTempView("s46_base")
        val stmts = s46Statements("g46")
        stmts.init.foreach { case (_, sql) => s.sql(sql) }
        s.sql(stmts.last._2)
      },
      s"""WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey < $S46KeyBound),
        |p1 AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_custkey % 7 = 2 AND o_orderkey < 40000
        |         THEN o_totalprice + 1000.0
        |         ELSE o_totalprice END AS o_totalprice FROM base),
        |p2 AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_custkey % 11 = 3
        |              AND o_orderkey BETWEEN 20000 AND 28000
        |         THEN -o_totalprice
        |         ELSE o_totalprice END AS o_totalprice FROM p1),
        |p3 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 0
        |              AND o_orderkey BETWEEN 50000 AND 58000
        |         THEN o_custkey + 1000000
        |         ELSE o_custkey END AS o_custkey,
        |    o_totalprice FROM p2),
        |p4 AS (
        |  SELECT p3.o_orderkey, p3.o_custkey,
        |    CASE WHEN base.o_custkey % 13 = 5
        |         THEN p3.o_totalprice * 2.0
        |         ELSE p3.o_totalprice END AS o_totalprice
        |  FROM p3 JOIN base USING (o_orderkey))
        |SELECT o_orderkey,
        |  CASE WHEN o_custkey >= 1000000 OR o_orderkey % 2 = 1
        |       THEN o_custkey - 500000
        |       ELSE o_custkey END AS o_custkey,
        |  o_totalprice
        |FROM p4 ORDER BY o_orderkey""".stripMargin),

    // GENERATED ALWAYS AS columns end-to-end: the month bucket derives
    // from o_orderdate and is STORED at write time (files are
    // self-contained; its per-file stats prune filters on it like any
    // key). INSERTs that omit the column — or pass NULL — get it
    // computed; the UPDATE changes the base date, so the bucket
    // recomputes against the post-assignment row. The oracle replays
    // the expression inline.
    QueryDef("s49_generated_column",
      (s, dir) => {
        val wh = s"${System.getProperty("java.io.tmpdir")}/graft_s49_wh_" +
          ProcessHandle.current().pid()
        s.conf.set("spark.sql.catalog.g49", "graft.sql.GraftCatalog")
        s.conf.set("spark.sql.catalog.g49.warehouse", wh)
        s.sql("DROP TABLE IF EXISTS g49.default.t")
        Tables.orders(s, dir)
          .select("o_orderkey", "o_totalprice", "o_orderdate")
          .filter(col("o_orderkey") < 60000)
          .createOrReplaceTempView("s49_base")
        s.sql(
          """CREATE TABLE g49.default.t (
            |  o_orderkey BIGINT,
            |  o_totalprice DOUBLE,
            |  o_orderdate DATE,
            |  order_month INT GENERATED ALWAYS AS
            |    (YEAR(o_orderdate) * 100 + MONTH(o_orderdate)))
            |""".stripMargin)
        // omitted column: computed
        s.sql("""INSERT INTO g49.default.t (o_orderkey, o_totalprice,
            o_orderdate)
          SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS DATE)
          FROM s49_base WHERE o_orderkey % 2 = 0""")
        // explicit NULL slot: computed
        s.sql("""INSERT INTO g49.default.t
          SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS DATE),
            CAST(NULL AS INT)
          FROM s49_base WHERE o_orderkey % 2 = 1""")
        // the UPDATE moves the base date — the bucket recomputes
        s.sql("""UPDATE g49.default.t
          SET o_orderdate = date_add(o_orderdate, 31)
          WHERE o_orderkey % 19 = 7""")
        s.sql("""SELECT order_month, count(*) AS n_rows,
            CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
              AS sum_price
          FROM g49.default.t
          GROUP BY order_month ORDER BY order_month""")
      },
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice,
        |    CAST(o_orderdate AS DATE) AS o_orderdate
        |  FROM orders WHERE o_orderkey < 60000),
        |upd AS (
        |  SELECT o_orderkey, o_totalprice,
        |    CASE WHEN o_orderkey % 19 = 7 THEN o_orderdate + 31
        |         ELSE o_orderdate END AS o_orderdate
        |  FROM base)
        |SELECT (YEAR(o_orderdate) * 100 + MONTH(o_orderdate))::INT
        |    AS order_month,
        |  count(*)::BIGINT AS n_rows,
        |  (sum(CAST(o_totalprice AS DECIMAL(18,4))))::DOUBLE AS sum_price
        |FROM upd GROUP BY 1 ORDER BY 1""".stripMargin),

    // IDENTITY columns end-to-end: two ingest commits assign
    // contiguous id ranges from the commit-atomic high-water mark.
    // Each load is ONE sorted partition, so the assignment order is
    // the sort order and the oracle can replay ids as row_number —
    // at scale the same assignment runs shuffle-free across
    // partitions (per-partition offsets), where ids are unique but
    // layout-ordered; the aggregate contract (count, min, max,
    // distinctness) is what survives any layout.
    QueryDef("s50_identity_column",
      (s, dir) => {
        import graft.ops.Snapshots
        val wh = s"${System.getProperty("java.io.tmpdir")}/graft_s50_wh_" +
          ProcessHandle.current().pid()
        s.conf.set("spark.sql.catalog.g50", "graft.sql.GraftCatalog")
        s.conf.set("spark.sql.catalog.g50.warehouse", wh)
        s.sql("DROP TABLE IF EXISTS g50.default.t")
        s.sql(
          """CREATE TABLE g50.default.t (
            |  id BIGINT GENERATED ALWAYS AS IDENTITY,
            |  o_orderkey BIGINT,
            |  o_totalprice DOUBLE)""".stripMargin)
        val base = Tables.orders(s, dir)
          .select("o_orderkey", "o_totalprice")
          .filter(col("o_orderkey") < 60000)
        val root = s"$wh/default/t"
        Snapshots.append(base.filter(pmod(col("o_orderkey"), lit(2)) === 0)
          .orderBy("o_orderkey").coalesce(1), root)
        Snapshots.append(base.filter(pmod(col("o_orderkey"), lit(2)) === 1)
          .orderBy("o_orderkey").coalesce(1), root)
        s.sql("""SELECT o_orderkey, id, o_totalprice
          FROM g50.default.t ORDER BY o_orderkey""")
      },
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey < 60000),
        |ev AS (
        |  SELECT o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
        |  FROM base WHERE o_orderkey % 2 = 0),
        |od AS (
        |  SELECT o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
        |  FROM base WHERE o_orderkey % 2 = 1)
        |SELECT o_orderkey, rn::BIGINT AS id, o_totalprice FROM ev
        |UNION ALL
        |SELECT o_orderkey, (rn + (SELECT count(*) FROM ev))::BIGINT,
        |  o_totalprice FROM od
        |ORDER BY o_orderkey""".stripMargin),

    // Version tags end-to-end: tag the mid-history snapshot, keep
    // writing, vacuum down to the newest version — the tagged
    // snapshot SURVIVES retention by name and reads back exactly;
    // the current version reflects all writes. The oracle replays
    // both states from the source predicates.
    QueryDef("s51_version_tag",
      (s, dir) => {
        import graft.ops.Snapshots
        val wh = s"${System.getProperty("java.io.tmpdir")}/graft_s51_wh_" +
          ProcessHandle.current().pid()
        s.conf.set("spark.sql.catalog.g51", "graft.sql.GraftCatalog")
        s.conf.set("spark.sql.catalog.g51.warehouse", wh)
        s.sql("DROP TABLE IF EXISTS g51.default.t")
        Tables.orders(s, dir)
          .select("o_orderkey", "o_totalprice")
          .filter(col("o_orderkey") < 60000)
          .createOrReplaceTempView("s51_base")
        s.sql("""CREATE TABLE g51.default.t (
          o_orderkey BIGINT, o_totalprice DOUBLE)""") // v1
        s.sql("""INSERT INTO g51.default.t
          SELECT * FROM s51_base WHERE o_orderkey % 3 = 0""") // v2
        s.sql("CALL g51.system.create_tag('default.t', 'baseline')")
        s.sql("""INSERT INTO g51.default.t
          SELECT * FROM s51_base WHERE o_orderkey % 3 = 1""") // v3
        s.sql("DELETE FROM g51.default.t WHERE o_orderkey % 7 = 2") // v4
        // retention sweep: only the newest version requested — the
        // tagged v2 must survive by name
        Snapshots.vacuum(s, s"$wh/default/t", keepVersions = 1)
        s.sql(
          """SELECT 'tagged' AS state, count(*) AS n_rows,
            |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
            |    AS sum_price
            |FROM g51.default.t VERSION AS OF 'baseline'
            |UNION ALL
            |SELECT 'current', count(*),
            |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
            |FROM g51.default.t
            |ORDER BY state""".stripMargin)
      },
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey < 60000),
        |tagged AS (SELECT * FROM base WHERE o_orderkey % 3 = 0),
        |cur AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 7 <> 2)
        |SELECT 'tagged' AS state, count(*)::BIGINT AS n_rows,
        |  (sum(CAST(o_totalprice AS DECIMAL(18,4))))::DOUBLE AS sum_price
        |FROM tagged
        |UNION ALL
        |SELECT 'current', count(*)::BIGINT,
        |  (sum(CAST(o_totalprice AS DECIMAL(18,4))))::DOUBLE
        |FROM cur
        |ORDER BY state""".stripMargin),

    // S52: COPY INTO — Snapshots.copyInto, the idempotent file-level
    // ingestion verb (SQL: CALL copy_into). Landed files load exactly
    // once: the manifest that commits the data also records the
    // source-file names (#ingested ledger, O(batch) per commit), so
    // re-running the load — the cron-driven ingestion pattern — is a
    // no-op, never duplicates. Two landing waves load in two runs, a
    // third run re-lists everything and loads nothing; the oracle is
    // the plain supplier content — any double-load would inflate the
    // counts. CopyIntoSpec proves the vacuum-survival (sidecar
    // ledger), force, glob, csv-schema and race-detection contracts.
    QueryDef("s52_copy_into",
      (s, dir) => {
        import graft.ops.Snapshots
        val landing = s"${stageDir(dir)}/s52_landing"
        val t = s"${stageDir(dir)}/s52_t"
        Seq(landing, t).foreach { r =>
          val p = new org.apache.hadoop.fs.Path(r)
          p.getFileSystem(s.sparkContext.hadoopConfiguration)
            .delete(p, true) // rebuild the fixture each run
        }
        val base = Tables.supplier(s, dir)
          .select("s_suppkey", "s_nationkey", "s_acctbal")
        base.filter(pmod(col("s_suppkey"), lit(3)) < 2)
          .coalesce(2).write.parquet(s"$landing/w1")
        val r1 = Snapshots.copyInto(s, t, landing)
        base.filter(pmod(col("s_suppkey"), lit(3)) === 2)
          .coalesce(1).write.parquet(s"$landing/w2")
        val r2 = Snapshots.copyInto(s, t, landing) // loads ONLY w2
        val r3 = Snapshots.copyInto(s, t, landing) // full no-op
        require(r2.filesSkipped == r1.filesLoaded && r3.filesLoaded == 0,
          s"COPY INTO idempotence broke: $r1 / $r2 / $r3")
        Snapshots.read(s, t).groupBy("s_nationkey")
          .agg(count(lit(1)).cast("long").as("n_sup"),
            sum(col("s_acctbal").cast("decimal(18,4)")).cast("double")
              .as("sum_bal"))
          .orderBy("s_nationkey")
      },
      """SELECT s_nationkey, count(*)::BIGINT AS n_sup,
        |  (sum(CAST(s_acctbal AS DECIMAL(18,4))))::DOUBLE AS sum_bal
        |FROM supplier GROUP BY s_nationkey
        |ORDER BY s_nationkey""".stripMargin),

    // S53: incremental replication — Snapshots.replicate (CALL
    // replicate), the CDC APPLY CHANGES pipeline composed end-to-end:
    // the first run materializes the source, later runs read the
    // source CHANGE FEED past the applied mark (O(changes since),
    // never O(table) — at 100 TB the replica follows a day's DML at
    // the day's cost), net it latest-per-key and land rows + mark as
    // ONE atomic merge-mixed commit (exactly-once: a replayed run is
    // a no-op). Maintenance commits (compact) replicate metadata-only.
    // The output aggregates BOTH sides; any divergence — double-apply,
    // missed delete, stale update image — breaks the side parity the
    // oracle expects. ApplyChangesSpec proves netting/refusal details.
    QueryDef("s53_replicate",
      (s, dir) => {
        import graft.ops.Snapshots
        val src = s"${stageDir(dir)}/s53_src"
        val dst = s"${stageDir(dir)}/s53_dst"
        Seq(src, dst).foreach { r =>
          val p = new org.apache.hadoop.fs.Path(r)
          p.getFileSystem(s.sparkContext.hadoopConfiguration)
            .delete(p, true) // rebuild the fixture each run
        }
        val base = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .filter(col("o_orderkey") < 40000)
        Snapshots.append(
          base.filter(pmod(col("o_orderkey"), lit(4)) < 2), src)
        Snapshots.replicate(s, src, dst, Seq("o_orderkey")) // full sync
        // a day of DML on the source...
        Snapshots.append(
          base.filter(pmod(col("o_orderkey"), lit(4)) === 2), src)
        Snapshots.updateMatching(s, src,
          Snapshots.read(s, src)
            .filter(pmod(col("o_orderkey"), lit(10)) === 3)
            .select("o_orderkey"),
          Seq("o_orderkey"),
          Seq("o_totalprice" -> (col("o_totalprice") + 100000.0)))
        Snapshots.deleteMatching(s, src,
          Snapshots.read(s, src)
            .filter(pmod(col("o_orderkey"), lit(10)) === 7)
            .select("o_orderkey"),
          Seq("o_orderkey"))
        Snapshots.compact(s, src, 4) // maintenance: zero feed rows
        // ...followed by the replica: one incremental, one no-op
        Snapshots.replicate(s, src, dst, Seq("o_orderkey"))
        val noop = Snapshots.replicate(s, src, dst, Seq("o_orderkey"))
        require(noop.fromVersion == noop.toVersion,
          s"replicate idempotence broke: $noop")
        def agg(side: String, root: String) =
          Snapshots.read(s, root)
            .groupBy(pmod(col("o_custkey"), lit(10)).as("bucket"))
            .agg(count(lit(1)).cast("long").as("n_orders"),
              sum(col("o_totalprice").cast("decimal(18,4)"))
                .cast("double").as("sum_price"))
            .select(lit(side).as("side"), col("bucket"),
              col("n_orders"), col("sum_price"))
        agg("replica", dst).unionByName(agg("source", src))
          .orderBy("side", "bucket")
      },
      """WITH cur AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 10 = 3
        |      THEN o_totalprice + 100000.0 ELSE o_totalprice END
        |      AS o_totalprice
        |  FROM orders
        |  WHERE o_orderkey < 40000 AND o_orderkey % 4 IN (0, 1, 2)
        |    AND o_orderkey % 10 <> 7),
        |sides AS (SELECT 'replica' AS side UNION ALL SELECT 'source')
        |SELECT s.side, o_custkey % 10 AS bucket,
        |  count(*)::BIGINT AS n_orders,
        |  (sum(CAST(o_totalprice AS DECIMAL(18,4))))::DOUBLE AS sum_price
        |FROM cur CROSS JOIN sides s
        |GROUP BY s.side, bucket
        |ORDER BY side, bucket""".stripMargin),

    // CONVERT: in-place import of an existing parquet directory — the
    // manifest lists the files where they stand (footer stats pass,
    // zero data movement), after which the table is a full citizen
    // (here: a CoW DELETE lands on the converted files). The oracle
    // recomputes the same net state from `orders` directly, so a
    // convert that dropped files, double-listed them, or mis-pinned
    // the schema hash-mismatches.
    QueryDef("s54_convert",
      (s, dir) => {
        import graft.ops.Snapshots
        val raw = s"${stageDir(dir)}/s54_raw"
        val p = new org.apache.hadoop.fs.Path(raw)
        p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(p, true) // rebuild the fixture each run
        val base = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .filter(col("o_orderkey") < 30000)
        base.repartition(4, col("o_orderkey")).write.parquet(raw)
        val r = Snapshots.convert(s, raw)
        require(r.version == 1 && r.files >= 4,
          s"convert fixture drift: $r")
        // the converted table takes DML like any snapshot table
        Snapshots.deleteWhere(s, raw,
          pmod(col("o_orderkey"), lit(10)) === 4)
        Snapshots.read(s, raw)
          .groupBy(pmod(col("o_custkey"), lit(10)).as("bucket"))
          .agg(count(lit(1)).cast("long").as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,4)"))
              .cast("double").as("sum_price"))
          .orderBy("bucket")
      },
      """SELECT o_custkey % 10 AS bucket,
        |  count(*)::BIGINT AS n_orders,
        |  (sum(CAST(o_totalprice AS DECIMAL(18,4))))::DOUBLE AS sum_price
        |FROM orders
        |WHERE o_orderkey < 30000 AND o_orderkey % 10 <> 4
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin),

    // Persistent catalog views: CREATE OR REPLACE VIEW stores the
    // definition under the warehouse; the read goes THROUGH the view
    // (expansion + CREATE-time context + the underlying snapshot
    // scan). The oracle recomputes the view's semantics from `orders`
    // directly, so a mis-stored definition, stale replace, or broken
    // expansion hash-mismatches.
    QueryDef("s55_view",
      (s, dir) => {
        val wh = s"${System.getProperty("java.io.tmpdir")}/graft_s55_wh_" +
          ProcessHandle.current().pid()
        s.conf.set("spark.sql.catalog.gvv", "graft.sql.GraftCatalog")
        s.conf.set("spark.sql.catalog.gvv.warehouse", wh)
        s.sql("DROP TABLE IF EXISTS gvv.default.s55")
        Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .createOrReplaceTempView("s55_base")
        s.sql("""CREATE TABLE gvv.default.s55 AS
          SELECT * FROM s55_base WHERE o_orderkey < 50000""")
        // an OLD definition first, then the replace the read must see
        s.sql("""CREATE OR REPLACE VIEW gvv.default.s55_v AS
          SELECT o_custkey, o_totalprice FROM gvv.default.s55
          WHERE o_orderkey % 3 = 999""")
        s.sql("""CREATE OR REPLACE VIEW gvv.default.s55_v
          (cust, price) AS
          SELECT o_custkey, o_totalprice FROM gvv.default.s55
          WHERE o_orderkey % 3 = 0""")
        s.sql("""SELECT cust % 25 AS bucket,
          count(*) AS n,
          CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
          FROM gvv.default.s55_v GROUP BY bucket ORDER BY bucket""")
      },
      """SELECT o_custkey % 25 AS bucket,
        |  count(*)::BIGINT AS n,
        |  (sum(CAST(o_totalprice AS DECIMAL(18,4))))::DOUBLE AS sum_price
        |FROM orders
        |WHERE o_orderkey < 50000 AND o_orderkey % 3 = 0
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin),

    // Partition-aware CONVERT: a hive-partitioned (`key=value`) layout
    // — the single most common pre-existing parquet shape — converts
    // in place; the path-borne partition column materializes at scan
    // time, carries exact per-file stats (the DELETE prunes on it),
    // and survives a CoW rewrite. The oracle recomputes the net state
    // from `orders` directly, so a dropped/mis-typed/mis-valued
    // partition column hash-mismatches.
    QueryDef("s56_convert_partitioned",
      (s, dir) => {
        import graft.ops.Snapshots
        val raw = s"${stageDir(dir)}/s56_raw"
        val p = new org.apache.hadoop.fs.Path(raw)
        p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(p, true) // rebuild the fixture each run
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"),
            pmod(col("o_orderkey"), lit(5)).cast("int").as("shard"))
          .filter(col("o_orderkey") < 30000)
          .write.partitionBy("shard").parquet(raw)
        val r = Snapshots.convert(s, raw)
        require(r.version == 1 && r.rows > 0,
          s"convert fixture drift: $r")
        // CoW DML addressed BY the path-borne column: the delete
        // file-prunes to the shard=4 files via their exact path stats
        Snapshots.deleteWhere(s, raw, col("shard") === 4)
        Snapshots.read(s, raw)
          .groupBy(col("shard"))
          .agg(count(lit(1)).cast("long").as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,4)"))
              .cast("double").as("sum_price"))
          .orderBy("shard")
      },
      """SELECT (o_orderkey % 5)::INT AS shard,
        |  count(*)::BIGINT AS n_orders,
        |  (sum(CAST(o_totalprice AS DECIMAL(18,4))))::DOUBLE AS sum_price
        |FROM orders
        |WHERE o_orderkey < 30000 AND o_orderkey % 5 <> 4
        |GROUP BY shard
        |ORDER BY shard""".stripMargin),

    // Escaped partition values + row-level DML on a converted layout:
    // STRING partition values that need Hive path escaping (`:`
    // → %3A, `/` → %2F, literal `+` and space kept verbatim) must
    // round-trip through convert's percent-only decode AND the
    // scan-side two-layer fill, and the deletion-vector delete runs
    // DIRECTLY on the converted layout (repeated part-file basenames
    // across partition dirs — the vectors key by qualified path). The
    // oracle recomputes the net state from `orders`, so a mis-decoded
    // value, a mis-masked row or a basename collision all
    // hash-mismatch.
    QueryDef("s57_convert_escaped_dv",
      (s, dir) => {
        import graft.ops.Snapshots
        val raw = s"${stageDir(dir)}/s57_raw"
        val p = new org.apache.hadoop.fs.Path(raw)
        p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(p, true) // rebuild the fixture each run
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_totalprice"),
            expr("CASE CAST(o_orderkey % 4 AS INT) " +
              "WHEN 0 THEN 'UTC+2' WHEN 1 THEN 'UTC+02:00' " +
              "WHEN 2 THEN 'Etc/GMT 1' ELSE 'plain' END").as("tz"))
          .filter(col("o_orderkey") < 20000)
          .write.partitionBy("tz").parquet(raw)
        val r = Snapshots.convert(s, raw)
        require(r.version == 1 && r.rows > 0,
          s"convert fixture drift: $r")
        // positional (deletion-vector) delete, no prior OPTIMIZE
        Snapshots.setProperty(s, raw, Snapshots.DmlModeKey, "merge-on-read")
        Snapshots.deleteWhere(s, raw, col("o_orderkey") % 11 === 0)
        Snapshots.read(s, raw)
          .groupBy(col("tz"))
          .agg(count(lit(1)).cast("long").as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,4)"))
              .cast("double").as("sum_price"))
          .orderBy("tz")
      },
      """SELECT CASE (o_orderkey % 4)::INT
        |    WHEN 0 THEN 'UTC+2' WHEN 1 THEN 'UTC+02:00'
        |    WHEN 2 THEN 'Etc/GMT 1' ELSE 'plain' END AS tz,
        |  count(*)::BIGINT AS n_orders,
        |  (sum(CAST(o_totalprice AS DECIMAL(18,4))))::DOUBLE AS sum_price
        |FROM orders
        |WHERE o_orderkey < 20000 AND o_orderkey % 11 <> 0
        |GROUP BY tz
        |ORDER BY tz""".stripMargin)
  )
}
