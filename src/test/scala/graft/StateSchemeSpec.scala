package graft

import java.io.{File, FileNotFoundException}
import java.nio.file.Files
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.sinks.Sinks
import graft.streaming.Streams

/** A local filesystem under its own scheme, rooted in a temp dir:
  * `rooted://bucket/p` lives at `<root>/p`. A path that lost its
  * scheme and authority on the way resolves on the DEFAULT filesystem
  * instead, at plain `/p` — a different directory — so a spec can tell
  * where state really landed.
  */
class RootedLocalFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = RootedLocalFileSystem.uri

  override def getScheme: String = RootedLocalFileSystem.scheme

  override def pathToFile(p: Path): File = {
    val abs = if (p.isAbsolute) p else new Path(getWorkingDirectory, p)
    new File(RootedLocalFileSystem.root, abs.toUri.getPath)
  }

  // statuses carry the LOGICAL path: the stock ones are built from the
  // physical file, which would leak `<root>` back into callers' paths
  override def getFileStatus(p: Path): FileStatus = {
    val f = pathToFile(p)
    if (!f.exists) throw new FileNotFoundException(s"$p does not exist")
    new FileStatus(f.length, f.isDirectory, 1, getDefaultBlockSize(p),
      f.lastModified, makeQualified(p))
  }

  override def listStatus(p: Path): Array[FileStatus] = {
    val f = pathToFile(p)
    if (!f.exists) throw new FileNotFoundException(s"$p does not exist")
    if (f.isDirectory) f.list().sorted.map(n => getFileStatus(new Path(p, n)))
    else Array(getFileStatus(p))
  }
}

object RootedLocalFileSystem {
  val scheme = "rooted"
  val uri: java.net.URI = java.net.URI.create(s"$scheme://bucket")
  lazy val root: File = Files.createTempDirectory("graft_rooted_").toFile
}

/** State on a non-default filesystem stays there: a fold sink, the
  * dim upsert's swap and the dim-enrichment sink each write and read
  * under the scheme they were given, and nothing lands on the default
  * filesystem at the scheme-stripped path.
  */
class StateSchemeSpec extends SparkSpec {
  import RootedLocalFileSystem.{root, scheme}

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$scheme.impl", classOf[RootedLocalFileSystem].getName)
  }

  /** (`rooted://` base, its path) — the path is a fresh local temp dir,
    * so a write that dropped the scheme lands there, on the default
    * filesystem, where the specs look for strays.
    */
  private def newBase(): (String, String) = {
    val local = Files.createTempDirectory("graft_scheme_").toString
    (s"$scheme://bucket$local", local)
  }

  private def onScheme(local: String, rel: String): Boolean =
    new File(root, s"$local/$rel").exists

  private def strays(local: String): Seq[String] =
    new File(local).list().toSeq

  private val ckpt = Files.createTempDirectory("graft_scheme_ckpt_").toString

  test("a fold sink keeps its state on the statePath's filesystem") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (base, local) = newBase()
    val rows = Seq((1L, "a", 10L), (2L, "b", 5L), (3L, "a", 7L))
    val ms = MemoryStream[(Long, String, Long)]
    val q = Streams.mixPlanSink(ms.toDF().toDF("doc_id", "source", "n_tokens"),
      s"$base/state", s"$ckpt/mix").start()
    try { ms.addData(rows); q.processAllAvailable() } finally q.stop()
    assert(onScheme(local, "state/mix/batch=0"),
      "the fold sink's batch did not land on the rooted filesystem")
    assert(strays(local).isEmpty,
      s"state leaked onto the default filesystem: ${strays(local)}")
    val got = Streams.mixPlanState(spark, s"$base/state", 1000L).get
      .collect().toSet
    val want = graft.api.Graft.mixPlan(
      rows.toDF("doc_id", "source", "n_tokens"), "source", "n_tokens", 1000L)
      .collect().toSet
    assert(got.nonEmpty && got == want, s"readout over rooted state: $got")
  }

  test("Sinks.upsert swaps on the path's own filesystem") {
    import spark.implicits._
    val (base, local) = newBase()
    // a trailing separator must still make staging/retired siblings
    Sinks.upsert(Seq((1L, 1L, "old"), (2L, 1L, "beta"))
      .toDF("sku_id", "ver", "sku_name"), s"$base/dim/", Seq("sku_id"), "ver")
    Sinks.upsert(Seq((1L, 2L, "new")).toDF("sku_id", "ver", "sku_name"),
      s"$base/dim", Seq("sku_id"), "ver")
    assert(onScheme(local, "dim"),
      "the snapshot is not on the rooted filesystem")
    val siblings = new File(root, local).list().toSeq
    assert(siblings == Seq("dim"), s"swap residue next to the snapshot: $siblings")
    assert(strays(local).isEmpty,
      s"the swap staged onto the default filesystem: ${strays(local)}")
    val snap = spark.read.parquet(s"$base/dim").select("sku_id", "sku_name")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snap == Map(1L -> "new", 2L -> "beta"), s"snapshot: $snap")
  }

  test("dimEnrichSink reads the dim and writes its state under their schemes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (base, local) = newBase()
    Sinks.upsert(Seq((1L, 1L, "alpha"), (2L, 1L, "beta"))
      .toDF("sku_id", "ver", "sku_name"), s"$base/dim", Seq("sku_id"), "ver")
    val ms = MemoryStream[(Long, Long)]
    val q = Streams.dimEnrichSink(ms.toDF().toDF("order_id", "sku_id"),
      s"$base/dim", s"$base/state", s"$ckpt/enrich", "sku_id", "sku_id")
      .start()
    try {
      ms.addData(Seq((100L, 1L), (101L, 2L), (102L, 3L)))
      q.processAllAvailable()
    } finally q.stop()
    assert(onScheme(local, "state/enriched/batch=0"),
      "enriched batch did not land on the rooted filesystem")
    assert(strays(local).isEmpty,
      s"state leaked onto the default filesystem: ${strays(local)}")
    val got = Streams.dimEnrichedState(spark, s"$base/state").get
      .select(col("order_id"), col("sku_name"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == Map(100L -> Some("alpha"), 101L -> Some("beta"),
      102L -> None), s"enriched: $got")
  }
}
