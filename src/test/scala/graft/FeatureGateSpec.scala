package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.ops.Snapshots

/** The manifest reader-feature gate: a manifest that REQUIRES a
  * feature this reader does not know must fail closed with a named
  * error — never skip the directive (an unknown row-visibility
  * directive silently returns wrong rows) — while pre-gate manifests
  * and known features read unchanged. */
class FeatureGateSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_fg").toFile.toString + "/t"

  private def manifest(root: String, v: Int): Seq[String] = {
    val p = Paths.get(s"$root/_manifests/v${"%09d".format(v)}")
    scala.io.Source.fromFile(p.toFile, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
  }

  test("an unknown REQUIRED feature fails closed, naming the feature; " +
      "pinned reads of older versions still work") {
    val t = tmp()
    Snapshots.append(Seq((1L, "a")).toDF("id", "s"), t)
    Snapshots.append(Seq((2L, "b")).toDF("id", "s"), t)
    // a future writer's manifest: this library has never heard of its
    // required feature, so every surface that would resolve v3 must
    // refuse rather than guess at row visibility
    val v2 = manifest(t, 2)
    Files.write(Paths.get(s"$t/_manifests/v000000003"),
      (("#requires\tfrobnicate" +: v2).mkString("\n") + "\n")
        .getBytes("UTF-8"))
    val e = intercept[UnsupportedOperationException](
      Snapshots.read(spark, t).count())
    assert(e.getMessage.contains("frobnicate"))
    assert(e.getMessage.contains("requires reader feature"))
    // maintenance must fail closed too — an old writer compacting a
    // table it cannot fully parse would corrupt the unknown directive
    intercept[UnsupportedOperationException](Snapshots.compact(spark, t, 1))
    intercept[UnsupportedOperationException](
      Snapshots.vacuum(spark, t, keepVersions = 1))
    // versions the reader CAN honor stay pinned-readable
    assert(Snapshots.read(spark, t, version = 2).count() == 2)
    assert(Snapshots.read(spark, t, version = 1).count() == 1)
  }

  test("known features stamp #requires and read unchanged: delta " +
      "chains, deletion vectors, the ingest ledger") {
    val t = tmp()
    Snapshots.append((1L to 40L).map(i => (i, s"s$i")).toDF("id", "s")
      .coalesce(1), t)
    // v1 is a FULL manifest with no gated directives: no #requires at
    // all — pre-gate tables parse identically
    assert(!manifest(t, 1).exists(_.startsWith("#requires")))
    // v2 appends as a delta manifest → stamped delta
    Snapshots.append(Seq((41L, "d")).toDF("id", "s"), t)
    assert(manifest(t, 2).contains("#requires\tdelta"),
      s"delta manifest must stamp its feature: ${manifest(t, 2)}")
    // a DV-carrying commit (one row of a 40-row file replaced — a
    // merge-on-read table marks it in a vector, not a rewrite) → dv
    dmlMode(t)
    Snapshots.merge(spark, t,
      Seq((2L, "b2")).toDF("id", "s"), Seq("id"))
    val dvV = Snapshots.currentVersion(spark, t).get
    assert(manifest(t, dvV).exists(_.startsWith("#dv\t")),
      s"fixture drift: expected a #dv line in v$dvV")
    assert(manifest(t, dvV).contains("#requires\tdv"))
    // copyInto's ledger → stamped ingest-ledger
    val src = Files.createTempDirectory("graft_fg_src").toFile.toString + "/in"
    Seq((9L, "z")).toDF("id", "s").coalesce(1).write.parquet(src)
    Snapshots.copyInto(spark, t, src, "parquet")
    val ingV = Snapshots.currentVersion(spark, t).get
    assert(manifest(t, ingV).exists(_.startsWith("#ingested\t")))
    assert(manifest(t, ingV).contains("#requires\tingest-ledger"))
    // and the table reads through all of it (copyInto APPENDS its
    // rows — id 9 exists both as the original and the ingested row)
    val got = Snapshots.read(spark, t).as[(Long, String)].collect().toSet
    val want = (1L to 41L).map(i =>
      (i, if (i == 2L) "b2" else if (i == 41L) "d" else s"s$i")).toSet +
      ((9L, "z"))
    assert(got == want,
      s"read-through mismatch: missing=${(want -- got).take(5)} " +
        s"extra=${(got -- want).take(5)}")
  }
}
