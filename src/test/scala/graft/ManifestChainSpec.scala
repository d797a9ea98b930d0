package graft

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path => HPath, RawLocalFileSystem}
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.functions._

import graft.ops.{HardLinkCommitCoordinator, Snapshots}

/** The local filesystem under its own scheme (`countfs://`), counting
  * every `open` of a `_manifests/v*` file, every listing of a
  * `_manifests` directory and every `getFileStatus`/`listStatus`/`open`
  * of a data file, and running a one-shot hook right after a
  * `_manifests` listing — the seam the manifest-chain tests below
  * measure and race through. */
class CountingFileSystem extends RawLocalFileSystem {
  import CountingFileSystem._
  override def getScheme: String = Scheme
  override def getUri: URI = URI.create(s"$Scheme:///")

  private def touch(p: HPath): Unit =
    if (p.toUri.getPath.contains("/data/")) dataTouches.incrementAndGet()

  override def open(p: HPath, bufferSize: Int): FSDataInputStream = {
    if (p.getParent != null && p.getParent.getName == "_manifests" &&
        p.getName.matches("v[0-9]+"))
      opens.computeIfAbsent(p.getName, _ => new AtomicInteger)
        .incrementAndGet()
    touch(p)
    super.open(p, bufferSize)
  }

  override def getFileStatus(p: HPath): FileStatus = {
    touch(p)
    super.getFileStatus(p)
  }

  override def listStatus(p: HPath): Array[FileStatus] = {
    touch(p)
    val listed = super.listStatus(p)
    if (p.getName == "_manifests") {
      listings.incrementAndGet()
      Option(afterListing.getAndSet(null)).foreach(_())
    }
    listed
  }
}

object CountingFileSystem {
  val Scheme = "countfs"
  /** manifest name → opens since the last [[reset]]. */
  val opens = new ConcurrentHashMap[String, AtomicInteger]()
  /** `_manifests` listings since the last [[reset]]. */
  val listings = new AtomicInteger
  /** Data-file status probes, listings and opens since the last
    * [[reset]]. */
  val dataTouches = new AtomicInteger
  /** Runs once, after the next `_manifests` listing returns. */
  val afterListing =
    new java.util.concurrent.atomic.AtomicReference[() => Unit]()

  def reset(): Unit = {
    opens.clear(); listings.set(0); dataTouches.set(0)
  }
  def snapshot: Map[String, Int] =
    opens.asScala.map { case (k, v) => k -> v.get }.toMap
}

/** The manifest chain has one reader: within one call every manifest
  * of the versions it touches is opened at most once, however deep the
  * delta chain and however many versions the call walks. A catalog
  * table reference resolves its version once: one statement lists the
  * manifests once and reads one version throughout. An ingest write
  * lists them once too, and under a forced race commits by its verb's
  * rebase rule. */
class ManifestChainSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set(s"fs.${CountingFileSystem.Scheme}.impl",
      classOf[CountingFileSystem].getName)
    Snapshots.setCommitCoordinator(CountingFileSystem.Scheme,
      HardLinkCommitCoordinator)
    s"${CountingFileSystem.Scheme}://" +
      Files.createTempDirectory("graft_chain").toFile.toString + "/t"
  }

  private def batch(i: Int) =
    Seq.tabulate(20)(j => (i * 100L + j, (i * 100L + j) % 10, s"b$i"))
      .toDF("id", "v", "tag").repartition(1)

  /** v1 full, v2 bloom config, v3 the DML mode, v4-v8 appends, v9 a
    * deletion vector (depth 8), v10 the checkpoint, v11-v18 appends
    * (depth 8 again). */
  private def deepTable(): String = {
    val root = freshRoot()
    Snapshots.append(batch(1), root)
    Snapshots.setBloomColumns(spark, root, Seq("id"))
    dmlMode(root)
    (4 to 8).foreach(i => Snapshots.append(batch(i), root))
    Snapshots.deleteWhere(spark, root, $"id" === 401L)
    (10 to 18).foreach(i => Snapshots.append(batch(i), root))
    assert(Snapshots.currentVersion(spark, root).contains(18))
    root
  }

  private def manifestBody(root: String, v: Int): Seq[String] = {
    val p = new HPath(root + f"/_manifests/v$v%09d")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  private def maxOpens(what: String)(call: => Any): (String, Int) = {
    CountingFileSystem.reset()
    call
    val worst = CountingFileSystem.snapshot.toSeq.sortBy(-_._2).headOption
    what -> worst.map(_._2).getOrElse(0)
  }

  test("every manifest is opened at most once per call on a depth-8 chain") {
    val root = deepTable()
    val rows = Snapshots.read(spark, root).count()
    val counts = Seq(
      maxOpens("read")(Snapshots.read(spark, root).count()),
      maxOpens("readWhere")(
        Snapshots.readWhere(spark, root, $"id" === 1705L).count()),
      maxOpens("liveBytes")(Snapshots.liveBytes(spark, root)),
      maxOpens("files")(Snapshots.files(spark, root).collect()),
      maxOpens("history")(Snapshots.history(spark, root).collect()),
      maxOpens("audit")(Snapshots.audit(spark, root).collect()),
      maxOpens("feedBytes")(Snapshots.feedBytes(spark, root, 0, 18)),
      maxOpens("appendedFilesByVersion")(
        Snapshots.appendedFilesByVersion(spark, root, 10, 18)),
      maxOpens("changeFeed")(Snapshots.changeFeed(spark, root, 1).count()),
      maxOpens("diff")(Snapshots.diff(spark, root, 1, 18).count()),
      maxOpens("vacuum")(
        Snapshots.vacuum(spark, root, keepVersions = 3, dryRun = true)),
      maxOpens("append")(Snapshots.append(batch(19), root)))
    assert(Snapshots.read(spark, root, 19).count() == rows + 20)
    assert(!manifestBody(root, 19).exists(_.startsWith("#delta")),
      "the append past depth 8 writes the checkpoint")
    val over = counts.filter(_._2 > 1)
    assert(over.isEmpty, s"manifests opened more than once: $over")
  }

  test("unpinned readWhere prunes and scans one resolved version") {
    // a DDL lands right after the read resolves "current": the result
    // must still be v1's, under v1's schema
    val ddls = Seq[(String, String => Int)](
      "rename" -> (Snapshots.renameColumn(spark, _, "v", "w")),
      "drop" -> (Snapshots.dropColumn(spark, _, "v")))
    ddls.foreach { case (what, ddl) =>
      val root = freshRoot()
      Snapshots.append(batch(1), root)
      val pred = col("v") > 5
      val expected = Snapshots.read(spark, root, 1).filter(pred)
      CountingFileSystem.afterListing.set(() => ddl(root))
      val got = Snapshots.readWhere(spark, root, pred)
      assert(CountingFileSystem.afterListing.get() == null, what)
      assert(Snapshots.currentVersion(spark, root).contains(2), what)
      assert(got.columns.toSeq == expected.columns.toSeq, what)
      assert(got.collect().map(_.toString).sorted.toSeq ==
        expected.collect().map(_.toString).sorted.toSeq, what)
    }
  }

  test("a deleteWhere on a merge-on-read table lists _manifests once") {
    val root = freshRoot()
    Snapshots.append(batch(1), root)
    dmlMode(root)
    CountingFileSystem.reset()
    val r = Snapshots.deleteWhere(spark, root, $"id" === 105L)
    assert(CountingFileSystem.listings.get() == 1,
      s"listed ${CountingFileSystem.listings.get()} times")
    assert(r.dvFiles == 1 && r.positionsDeleted == 1L, r.toString)
    assert(Snapshots.history(spark, root).head().getString(2) ==
      "delete-light")
    assert(ids(root) == (100L until 120L).toSet - 105L)
  }

  // ---- the ingest commit under a forced race ------------------------

  private def dataDirs(root: String): Set[String] = {
    val p = new HPath(root + "/data")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(_.getPath.getName).toSet
  }

  /** Run `write` with `interloper` committed right after the writer's
    * first `_manifests` listing; returns what `write` returned and the
    * `data/` dirs it staged (those new since the interloper). */
  private def raced[A](root: String, interloper: => Unit)(
      write: => A): (A, Set[String]) = {
    var before = Set.empty[String]
    CountingFileSystem.afterListing.set { () =>
      interloper
      before = dataDirs(root)
    }
    val out = write
    assert(CountingFileSystem.afterListing.get() == null)
    (out, dataDirs(root) -- before)
  }

  private def ids(root: String): Set[Long] =
    Snapshots.read(spark, root).select("id").as[Long].collect().toSet

  test("append and overwrite into an existing table list _manifests once") {
    val root = freshRoot()
    Snapshots.append(batch(1), root)
    Seq[(String, () => Int)](
      "append" -> (() => Snapshots.append(batch(2), root)),
      "overwrite" -> (() => Snapshots.overwrite(batch(3), root))
    ).foreach { case (what, write) =>
      CountingFileSystem.reset()
      write()
      assert(CountingFileSystem.listings.get() == 1,
        s"$what listed ${CountingFileSystem.listings.get()} times")
    }
    assert(ids(root) == (300L until 320L).toSet)
  }

  test("an append lands on the tip past a racing delete or property " +
      "change without re-staging") {
    val interlopers = Seq[(String, String => Unit, String => Unit)](
      ("delete", r => Snapshots.deleteWhere(spark, r, $"id" < 105L),
        r => assert(ids(r) ==
          ((105L until 120L) ++ (200L until 220L)).toSet)),
      ("property", r => Snapshots.setProperty(spark, r, "team", "x"),
        r => {
          assert(ids(r) == ((100L until 120L) ++ (200L until 220L)).toSet)
          assert(Snapshots.tableProperties(spark, r).get("team")
            .contains("x"))
        }))
    interlopers.foreach { case (what, interloper, check) =>
      val root = freshRoot()
      Snapshots.append(batch(1), root)
      val (v, staged) = raced(root, interloper(root))(
        Snapshots.append(batch(2), root))
      assert(v == 3, what)
      assert(staged.size == 1, s"$what staged $staged")
      check(root)
    }
  }

  test("an append fails when a racing constraint rejects its batch") {
    val root = freshRoot()
    Snapshots.append(batch(1), root)
    val e = intercept[IllegalArgumentException](raced(root,
      Snapshots.setConstraint(spark, root, "id_small", "id < 200"))(
      Snapshots.append(batch(2), root)))
    assert(e.getMessage.contains("CHECK constraint 'id_small'"), e.getMessage)
    assert(Snapshots.currentVersion(spark, root).contains(2))
    assert(ids(root) == (100L until 120L).toSet)
  }

  test("an overwrite wins over an append that lands under it") {
    val root = freshRoot()
    Snapshots.append(batch(1), root)
    val (v, _) = raced(root, Snapshots.append(batch(2), root))(
      Snapshots.overwrite(batch(3), root))
    assert(v == 3)
    assert(ids(root) == (300L until 320L).toSet)
  }

  test("a racing idempotentAppend replay commits once") {
    val root = freshRoot()
    Snapshots.append(batch(1), root)
    var first = Option.empty[Int]
    val (second, _) = raced(root, {
      first = Snapshots.idempotentAppend(batch(2), root, "w", 7L)
    })(Snapshots.idempotentAppend(batch(2), root, "w", 7L))
    assert(first.contains(2))
    assert(second.isEmpty)
    assert(Snapshots.currentVersion(spark, root).contains(2))
    assert(Snapshots.read(spark, root).count() == 40)
  }

  test("a merge into an empty table re-classifies against a racing " +
      "append of a matching key") {
    val root = freshRoot()
    // the hook runs after a listing: give the empty table one to list
    val ms = new HPath(root + "/_manifests")
    ms.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(ms)
    val (res, _) = raced(root,
      Snapshots.append(Seq((1L, 0L, "append")).toDF("id", "v", "tag"), root))(
      Snapshots.merge(spark, root,
        Seq((1L, 9L, "merge")).toDF("id", "v", "tag"), Seq("id")))
    // serialized after the append, the merge updates its row
    assert(res.version == 2)
    assert(Snapshots.read(spark, root).as[(Long, Long, String)].collect()
      .toSeq == Seq((1L, 9L, "merge")))
  }

  // ---- one version per catalog table reference ----------------------

  private lazy val warehouse: String = {
    val w = freshRoot().stripSuffix("/t")
    spark.conf.set("spark.sql.catalog.gcnt", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcnt.warehouse", w)
    w
  }

  private def catalog: TableCatalog =
    spark.sessionState.catalogManager.catalog("gcnt")
      .asInstanceOf[TableCatalog]

  /** A one-batch table `gcnt.default.<name>`; returns its directory. */
  private def catalogTable(name: String): String = {
    val dir = s"$warehouse/default/$name"
    Snapshots.append(batch(1), dir)
    dir
  }

  private def ident(name: String) = Identifier.of(Array("default"), name)

  test("a column dropped right after a SELECT resolves its version " +
      "does not fail it: the statement reads the pre-drop version") {
    val dir = catalogTable("drop_mid")
    val expected = Snapshots.read(spark, dir, 1)
    CountingFileSystem.afterListing.set(() =>
      Snapshots.dropColumn(spark, dir, "v"))
    val got = spark.sql("SELECT * FROM gcnt.default.drop_mid")
    assert(CountingFileSystem.afterListing.get() == null)
    assert(Snapshots.currentVersion(spark, dir).contains(2))
    assert(got.columns.toSeq == Seq("id", "v", "tag"))
    assert(got.collect().map(_.toString).sorted.toSeq ==
      expected.collect().map(_.toString).sorted.toSeq)
  }

  test("a VERSION AS OF handle's properties are its version's") {
    val dir = catalogTable("props_pin")
    Snapshots.setProperty(spark, dir, "team", "first")
    Snapshots.setConstraint(spark, dir, "id_pos", "id > 0")
    spark.sql(
      "ALTER TABLE gcnt.default.props_pin SET TBLPROPERTIES ('team' = 'later')")
    Snapshots.dropConstraint(spark, dir, "id_pos")
    val pinned = catalog.loadTable(ident("props_pin"), "3").properties()
    assert(pinned.get("team") == "first")
    assert(pinned.get("constraint.id_pos") == "id > 0")
    assert(pinned.get("pinnedVersion") == "3")
    val current = catalog.loadTable(ident("props_pin")).properties()
    assert(current.get("team") == "later")
    assert(!current.containsKey("constraint.id_pos"))
  }

  test("one SELECT on an unpinned catalog table lists _manifests once") {
    catalogTable("one_listing")
    CountingFileSystem.reset()
    val rows = spark.sql(
      "SELECT id, tag FROM gcnt.default.one_listing WHERE v > 5").collect()
    assert(rows.length == 8)
    assert(CountingFileSystem.listings.get() == 1,
      s"listed ${CountingFileSystem.listings.get()} times")
  }

  test("a catalog handle's schema touches no data file") {
    val dir = catalogTable("schema_only")
    CountingFileSystem.reset()
    val schema = catalog.loadTable(ident("schema_only")).schema()
    assert(CountingFileSystem.dataTouches.get() == 0,
      s"${CountingFileSystem.dataTouches.get()} data-file touches")
    assert(schema == Snapshots.read(spark, dir).schema)
  }
}
