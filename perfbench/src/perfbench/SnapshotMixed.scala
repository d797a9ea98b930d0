package perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.types._

import graft.ops.Snapshots

/** `snapshot_mixed`: a closed loop, one SQL client on a funding-history
  * snapshot table in the `GraftCatalog`.
  *
  * Set-up builds the table to a fixed commit depth. The seeded op mix:
  * INSERT of new sessions, MERGE of re-delivered corrections, UPDATE and
  * DELETE on the retention range, and four reads (point aggregate per
  * symbol, time-range scan, latest per symbol, `VERSION AS OF`).
  * `Snapshots.maintain` runs every `MaintainEvery` commits, in the
  * foreground. Every read and the final table are checked against an
  * in-memory key-value model. */
object SnapshotMixed extends Workload {
  val name = "snapshot_mixed"
  val Reads = Seq("read_point", "read_range", "read_latest", "read_version")
  val Commits = Seq("insert", "merge", "update", "delete")
  val latencyKinds = Reads
  val commitKinds = Commits
  val reportNames = ("read", "ms", 1.0, Some("commit"))
  val opKinds = (Reads ++ Commits :+ "maintain").toSet

  val Symbols = 20
  val SessionMs: Long = 8L * 3600 * 1000
  val BaseMs: Long = java.time.Instant.parse("2024-01-20T00:00:00Z").toEpochMilli
  val SetupReps = 3
  val MaintainEvery = 12
  /** The op mix as a deck: each round of 16 ops is a seeded shuffle of
    * these counts. A run ends on a whole deck, so every run measures the
    * same mix in a different order. */
  val Deck: Seq[(String, Int)] = Seq(
    "read_point" -> 4, "read_range" -> 3, "read_latest" -> 2,
    "read_version" -> 2, "insert" -> 2, "merge" -> 1, "update" -> 1,
    "delete" -> 1)

  /** history: sessions in the first commit; depth: commits set-up makes;
    * insert: sessions per INSERT; keep: retention in sessions; merge:
    * keys per MERGE; range: sessions per range read or UPDATE. */
  final case class Size(history: Int, depth: Int, insert: Int, keep: Int,
      merge: Int, range: Int)
  def size(tiny: Boolean): Size =
    if (tiny) Size(history = 20, depth = 3, insert = 5, keep = 30, merge = 10, range = 3)
    else Size(history = 200, depth = 3, insert = 50, keep = 300, merge = 100, range = 10)

  val schema: StructType = StructType(Seq(
    StructField("symbol", StringType), StructField("funding_time", TimestampType),
    StructField("funding_rate", DoubleType)))

  def symbol(sym: Int): String = f"SYM$sym%02dUSDTM"
  private val catalogs = new java.util.concurrent.atomic.AtomicInteger()
  def ts(s: Int): Timestamp = new Timestamp(BaseMs + s * SessionMs)
  def lit(s: Int): String = s"TIMESTAMP '${ts(s).toInstant.toString.replace('T', ' ').stripSuffix("Z")}'"

  /** The table and its model: (symbol, session) -> rate, and the row
    * count of every version the client has seen committed. */
  final class Table(spark: SparkSession, gen: Gen, sz: Size, val ident: String,
      val dir: String) {
    val rows = mutable.HashMap.empty[(Int, Int), Double]
    val versionRows = mutable.LinkedHashMap.empty[Int, Long]
    var next = 0
    var floor = 0
    var commits = 0

    def rate(sym: Int, s: Int, salt: Long): Double =
      (gen.int(4001, 30, s, sym, salt) - 2000) * 1e-6

    def source(keys: Seq[((Int, Int), Double)]): Unit =
      spark.createDataFrame(keys.map { case ((sym, s), r) =>
        Row(symbol(sym), ts(s), r)
      }.asJava, schema).createOrReplaceTempView("perfbench_src")

    /** Record the version a commit produced. */
    def committed(): Unit = {
      commits += 1
      Snapshots.currentVersion(spark, dir).foreach(v => versionRows(v) = rows.size.toLong)
    }

    /** Prepare one statement; returns (SQL, apply-to-model). */
    def insert(n: Int): (String, () => Unit) = {
      val keys = for (s <- next until next + n; sym <- 0 until Symbols)
        yield (sym, s) -> rate(sym, s, 0)
      source(keys)
      (s"INSERT INTO $ident SELECT * FROM perfbench_src",
        () => { rows ++= keys; next += n })
    }

    def merge(rng: java.util.SplittableRandom, opNo: Long): (String, () => Unit) = {
      val lo = math.max(floor, next - 2 * sz.insert)
      val keys = (0 until sz.merge).map { _ =>
        (rng.nextInt(Symbols), lo + rng.nextInt(math.max(1, next - lo)))
      }.distinct.filter(rows.contains).map(k => k -> rate(k._1, k._2, opNo + 1))
      source(keys)
      (s"""MERGE INTO $ident t USING perfbench_src s
          |ON t.symbol = s.symbol AND t.funding_time = s.funding_time
          |WHEN MATCHED THEN UPDATE SET funding_rate = s.funding_rate
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
        () => rows ++= keys)
    }

    def update(): (String, () => Unit) = {
      val (a, b) = (floor, floor + sz.range)
      (s"UPDATE $ident SET funding_rate = funding_rate / 2 " +
        s"WHERE funding_time >= ${lit(a)} AND funding_time < ${lit(b)}",
        () => rows.keys.filter(k => k._2 >= a && k._2 < b).toSeq
          .foreach(k => rows(k) = rows(k) / 2))
    }

    def delete(): (String, () => Unit) = {
      val cut = math.max(floor, next - sz.keep)
      (s"DELETE FROM $ident WHERE funding_time < ${lit(cut)}",
        () => { rows.filterInPlace((k, _) => k._2 >= cut); floor = cut })
    }
  }

  /** Paths of every file under a table directory. */
  def filesUnder(dir: String): Set[String] = {
    val root = new File(dir).toPath
    if (!java.nio.file.Files.exists(root)) Set.empty
    else {
      val w = java.nio.file.Files.walk(root)
      try w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(_.toString).toSet
      finally w.close()
    }
  }

  /** Files read by the file scans of an executed query. */
  def filesRead(df: DataFrame): Long = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case o => o +: (o.children.flatMap(walk) ++ o.subqueries.flatMap(walk))
    }
    walk(df.queryExecution.executedPlan)
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val sz = size(ctx.opts.tiny)
    val wh = new File(ctx.work, "sql_warehouse").getPath
    // a catalog is initialized once per session: a fresh name per run
    val cat = s"perfbench${catalogs.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val rng = ctx.gen.stream(40)
    var t: Table = null
    var opNo = 0L
    val maintainIo = mutable.ArrayBuffer.empty[Long]

    def commit(kind: String, setup: Boolean)(prep: => (String, () => Unit)): Unit = {
      val (sql, apply) = prep
      val before = if (ctx.tracer.isDefined) filesUnder(t.dir) else Set.empty[String]
      val (res, ms, rec) = ctx.runner(if (setup) "setup" else kind)(spark.sql(sql).collect())
      rec.foreach(_.extra("files_created") = (filesUnder(t.dir) -- before).size.toDouble)
      out.attempted += 1
      res match {
        case Left(e) => out.fail(s"$kind threw: $e")
        case Right(_) =>
          apply()
          t.committed()
          if (!setup) out.samples += ((kind, ms, ctx.runner.lastId))
      }
      if (!setup && t.commits % MaintainEvery == 0) {
        val io0 = Storage.snapshot()
        val (r, mms, _) = ctx.runner("maintain")(Snapshots.maintain(spark, t.dir,
          maxFiles = 16, targetFiles = 4, keepVersions = 10))
        out.attempted += 1
        r match {
          case Left(e) => out.fail(s"maintain threw: $e")
          case Right(_) =>
            maintainIo += Storage.delta(io0, Storage.snapshot())
              .getOrElse("bytesWritten", 0L)
            Snapshots.currentVersion(spark, t.dir)
              .foreach(v => t.versionRows(v) = t.rows.size.toLong)
            out.samples += (("maintain", mms, ctx.runner.lastId))
        }
      }
    }

    def read(kind: String, setup: Boolean): Unit = {
      val sym = rng.nextInt(Symbols)
      val a = t.floor + rng.nextInt(math.max(1, t.next - t.floor))
      val recent = t.versionRows.keys.toSeq.takeRight(5)
      val v = recent(rng.nextInt(recent.size))
      val sql = kind match {
        case "read_point" => s"SELECT count(*), sum(funding_rate) FROM ${t.ident} " +
          s"WHERE symbol = '${symbol(sym)}'"
        case "read_range" => s"SELECT symbol, funding_time, funding_rate FROM ${t.ident} " +
          s"WHERE funding_time >= ${lit(a)} AND funding_time < ${lit(a + sz.range)}"
        case "read_latest" => s"SELECT symbol, max(funding_time), " +
          s"max_by(funding_rate, funding_time) FROM ${t.ident} GROUP BY symbol"
        case "read_version" => s"SELECT count(*) FROM ${t.ident} VERSION AS OF $v"
      }
      var df: DataFrame = null
      val (res, ms, rec) = ctx.runner(if (setup) "setup" else kind) {
        df = spark.sql(sql)
        df.collect()
      }
      out.attempted += 1
      res match {
        case Left(e) => out.fail(s"$kind threw: $e")
        case Right(got) =>
          val ok = kind match {
            case "read_point" =>
              val want = t.rows.collect { case ((`sym`, _), r) => r }
              got.length == 1 && got(0).getLong(0) == want.size &&
                (want.isEmpty || Workload.close(got(0).getDouble(1), want.sum))
            case "read_range" =>
              got.map(r => ((r.getString(0), r.getTimestamp(1).getTime), r.getDouble(2)))
                .toMap == t.rows.collect {
                  case ((s1, s2), r) if s2 >= a && s2 < a + sz.range =>
                    (symbol(s1), ts(s2).getTime) -> r
                }.toMap && got.length == t.rows.count(k => k._1._2 >= a && k._1._2 < a + sz.range)
            case "read_latest" =>
              got.map(r => r.getString(0) -> ((r.getTimestamp(1).getTime, r.getDouble(2))))
                .toMap == t.rows.groupBy(_._1._1).map { case (s1, kv) =>
                  val ((_, s2), r) = kv.maxBy(_._1._2)
                  symbol(s1) -> ((ts(s2).getTime, r))
                }
            case "read_version" =>
              got.length == 1 && got(0).getLong(0) == t.versionRows(v)
          }
          if (!ok) out.fail(s"$kind returned a wrong result: $sql")
          else if (!setup) out.samples += ((kind, ms, ctx.runner.lastId))
          rec.foreach { o =>
            o.extra("scan.files_read") = filesRead(df).toDouble
            o.extra("table.live_files") =
              Snapshots.files(spark, t.dir).collect().length.toDouble
            o.extra("table.versions") = Snapshots.versions(spark, t.dir).size.toDouble
          }
      }
    }

    (1 to SetupReps).foreach { rep =>
      out.setupS += Workload.timedS {
        val ident = s"$cat.default.funding_$rep"
        t = new Table(spark, ctx.gen, sz, ident, s"$wh/default/funding_$rep")
        spark.sql(s"CREATE TABLE $ident (symbol STRING, funding_time TIMESTAMP, " +
          "funding_rate DOUBLE)")
        commit("insert", setup = true)(t.insert(sz.history))
        (1 until sz.depth).foreach(_ => commit("insert", setup = true)(t.insert(sz.insert)))
        Reads.foreach(read(_, setup = true))
      }
    }

    val deck = Deck.flatMap { case (k, n) => Seq.fill(n)(k) }
    var hand = List.empty[String]
    val deadline = ctx.deadlineAfter(Clock.nowMs)
    // whole decks only: every run measures the same op mix
    while (Clock.nowMs < deadline || hand.nonEmpty) {
      opNo += 1
      if (hand.isEmpty) {
        val a = deck.toArray
        for (i <- a.indices.reverse) {
          val j = rng.nextInt(i + 1)
          val x = a(i); a(i) = a(j); a(j) = x
        }
        hand = a.toList
      }
      val kind = hand.head
      hand = hand.tail
      kind match {
        case "insert" => commit("insert", setup = false)(t.insert(sz.insert))
        case "merge" => commit("merge", setup = false)(t.merge(rng, opNo))
        case "update" => commit("update", setup = false)(t.update())
        case "delete" => commit("delete", setup = false)(t.delete())
        case k => read(k, setup = false)
      }
    }

    // the final table against the model
    out.attempted += 1
    try {
      val got = spark.sql(s"SELECT * FROM ${t.ident}").collect()
        .map(r => ((r.getString(0), r.getTimestamp(1).getTime), r.getDouble(2)))
      val want = t.rows.map { case ((s1, s2), r) => (symbol(s1), ts(s2).getTime) -> r }
      if (got.length != want.size || got.toMap != want)
        out.fail(s"final table differs: ${got.length} rows vs ${want.size} expected")
    } catch { case e: Exception => out.fail(s"final check threw: $e") }
    out.extra("disk_bytes_per_row") =
      (Files2.sizeOf(new File(t.dir)).toDouble / t.rows.size, "B/row")
    out.extra("maintain.bytes_rewritten") = (Pct.mean(maintainIo.map(_.toDouble).toSeq), "B")
  }

  def layers(tr: Tracer, out: Outcome): Map[String, Double] = {
    val commits = tr.views(Commits.toSet)
    val reads = tr.views(Reads.toSet)
    def meanOf(vs: Seq[tr.OpView], f: tr.OpView => Double): Double =
      Pct.mean(vs.map(f))
    val scans = reads.filter(_.op.kind != "read_version")
    Map(
      "ops.Snapshots.commit_driver_ms" -> meanOf(commits, _.selfMs),
      "ops.Snapshots.jobs_per_commit" -> meanOf(commits, _.jobs.size.toDouble),
      "storage.write_ops_per_commit" ->
        meanOf(commits, _.op.extra.getOrElse("files_created", 0.0)),
      "storage.bytes_written_per_commit" ->
        meanOf(commits, _.op.io.getOrElse("bytesWritten", 0L).toDouble),
      "table.live_files" -> meanOf(reads, _.op.extra.getOrElse("table.live_files", 0.0)),
      "table.versions" -> meanOf(reads, _.op.extra.getOrElse("table.versions", 0.0)),
      "scan.files_read" -> meanOf(scans, _.op.extra.getOrElse("scan.files_read", 0.0)),
      "scan.prune_ratio" -> meanOf(scans, v => {
        val live = v.op.extra.getOrElse("table.live_files", 0.0)
        if (live > 0) 1 - v.op.extra.getOrElse("scan.files_read", 0.0) / live else 0.0
      }),
      "maintain.ms" -> Pct.mean(out.times("maintain")),
      "maintain.bytes_rewritten" -> out.extra.get("maintain.bytes_rewritten").map(_._1).getOrElse(0.0)
    ) ++ (Reads ++ Commits).map { k =>
      val xs = out.times(k)
      s"op.$k.ms" -> (if (xs.isEmpty) 0.0 else Pct.median(xs))
    }
  }
}
