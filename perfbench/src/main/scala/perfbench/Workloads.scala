package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}

import graft.ann.Similarity
import graft.ops.TxTable
import graft.pipeline.Orchestrator
import graft.text.Bm25

/** A workload: inputs already generated under `data`, a set-up step, an
  * untimed warm-up, and a fixed operation sequence (`unit`) that the
  * driver loop repeats until the measuring time is used up. Every call
  * into the library inside `unit` goes through `rec.op`.
  */
abstract class Workload(val spark: SparkSession, val data: String,
                        val rec: Recorder) {
  def prepare(): Unit
  def warm(): Unit
  /** How many units the generated inputs allow. */
  def maxUnits: Int = Int.MaxValue
  def unit(i: Int): Unit
  /** Output checks and size measurements after the timed region. */
  def finish(units: Int): Map[String, Any]

  protected def path(rel: String): String = Paths.get(data, rel).toString

  protected def local(rel: String): Array[Row] =
    spark.read.parquet(path(rel)).collect()

  protected def frame(rows: Seq[Row], like: String): DataFrame =
    spark.createDataFrame(rows.asJava, spark.read.parquet(path(like)).schema)

  protected def check(name: String, ok: Boolean, detail: String = "")
      : Map[String, Any] =
    Map("name" -> name, "ok" -> ok, "detail" -> detail)
}

object Workload {
  def apply(name: String, spark: SparkSession, data: String, seed: Long,
            rec: Recorder): Workload = name match {
    case "medallion_batch" => new MedallionBatch(spark, data, rec)
    case "tx_upsert_cycle" => new TxUpsertCycle(spark, data, rec)
    case "operator_queries" => new OperatorQueries(spark, data, seed, rec)
    case "index_append_serve" => new IndexAppendServe(spark, data, rec)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def regularFiles(dir: String): Seq[java.nio.file.Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p)).toList
      finally s.close()
    }
  }

  /** Bytes of the regular files under `dir`, checksum sidecars excluded. */
  def bytesUnder(dir: String): Long =
    regularFiles(dir).filterNot(_.getFileName.toString.endsWith(".crc"))
      .map(p => Files.size(p)).sum

  def filesUnder(dir: String): Long =
    regularFiles(dir).count(_.getFileName.toString.endsWith(".parquet"))
      .toLong

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    }
    finally s.close()
  }

  /** Size of `df` written once as a single parquet file. */
  def parquetBytes(df: DataFrame, dir: String): Long = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    bytesUnder(dir)
  }

  /** Write amplification, space amplification and file counts of the
    * TxTables at `paths`. `ingested` is every row the workload handed to
    * them; `content` is what their head snapshots hold, when that differs.
    */
  def amplification(spark: SparkSession, paths: Seq[String],
                    ingested: DataFrame, content: Option[DataFrame],
                    scratch: String): Map[String, Any] = {
    val ingestedBytes = parquetBytes(ingested, s"$scratch/ingested")
    val contentBytes = content.fold(ingestedBytes)(c =>
      parquetBytes(c, s"$scratch/content"))
    val created = paths.map(bytesUnder).sum
    val live = paths.map { p =>
      val v = TxTable.versions(spark, p).last
      TxTable.snapshotFiles(spark, p, v)
        .map(f => Files.size(Paths.get(
          new org.apache.hadoop.fs.Path(f).toUri.getPath))).sum
    }.sum
    val log = paths.map(p => bytesUnder(s"$p/_txlog")).sum
    Map(
      "write_amp" -> created.toDouble / ingestedBytes,
      "space_amp" -> (live + log).toDouble / contentBytes,
      "bytes_created" -> created, "bytes_live" -> live, "bytes_log" -> log,
      "bytes_ingested_once" -> ingestedBytes,
      "bytes_content_once" -> contentBytes,
      "log_entries" -> paths.map(p => TxTable.versions(spark, p).size).sum,
      "files_live" -> paths.map { p =>
        TxTable.snapshotFiles(spark, p, TxTable.versions(spark, p).last).size
      }.sum,
      "files_written" -> paths.map(filesUnder).sum)
  }
}

/** The paper's pipeline: the five landing → gold stages, single-file
  * sinks throughout (gold not published through TxTable).
  */
final class MedallionBatch(spark: SparkSession, data: String, rec: Recorder)
    extends Workload(spark, data, rec) {
  def prepare(): Unit = ()
  def warm(): Unit = Orchestrator.stages.foreach(_.run(spark, data))
  def unit(i: Int): Unit = Orchestrator.stages.foreach { s =>
    rec.op(s.name, "pipeline", i)(s.run(spark, data))
  }
  // silver and gold marts are compared against the SQL reference by the
  // caller, straight from the lake directory
  def finish(units: Int): Map[String, Any] = Map("lake" -> data)
}

/** Upserts beside reads on one TxTable whose log grows during the run. */
final class TxUpsertCycle(spark: SparkSession, data: String, rec: Recorder)
    extends Workload(spark, data, rec) {
  private val OptimizeEvery = 4
  private val table = path("table")
  private var ops: Map[(Int, String), Array[Row]] = Map.empty
  private val reads = collection.mutable.ArrayBuffer.empty[Seq[Long]]

  private def batch(c: Int, op: String): DataFrame =
    frame(ops((c, op)).toSeq.map(r => Row(r.getLong(2), r.getInt(3),
      r.getLong(4))), "tx_base.parquet")

  def prepare(): Unit = {
    ops = local("tx_ops.parquet").groupBy(r => (r.getInt(0), r.getString(1)))
    TxTable.overwrite(spark, table,
      frame(local("tx_base.parquet").toSeq, "tx_base.parquet"))
  }

  override def maxUnits: Int = ops.keys.map(_._1).max + 1

  def warm(): Unit = {
    val t = path("warm_table")
    TxTable.overwrite(spark, t, spark.read.parquet(path("tx_base.parquet")))
    cycle(t, 0, timed = false)
    TxTable.optimize(spark, t, Seq("k"))
  }

  def unit(c: Int): Unit = cycle(table, c, timed = true)

  private def cycle(t: String, c: Int, timed: Boolean): Unit = {
    def op[T](kind: String)(body: => T): T =
      if (timed) rec.op(kind, "ops.TxTable", c)(body) else body
    val merge = batch(c, "merge")
    op("merge")(TxTable.merge(spark, t, merge, Seq("k")))
    val append = batch(c, "append")
    op("append")(TxTable.append(spark, t, append))
    val g = ops((c, "read")).head.getInt(3)
    val r = op("read") {
      val df = rec.span("construct", "ops.TxTable")(TxTable.read(spark, t))
      rec.span("execute", "spark") {
        df.filter(col("g") === g)
          .agg(count(lit(1)), coalesce(sum(col("v")), lit(0L))).collect()
      }.head
    }
    if (timed) reads += Seq(g.toLong, r.getLong(0), r.getLong(1))
    val keys = ops((c, "delete")).map(_.getLong(2)).toSeq
    op("delete")(TxTable.delete(spark, t, col("k").isin(keys: _*)))
    if ((c + 1) % OptimizeEvery == 0)
      op("optimize")(TxTable.optimize(spark, t, Seq("k")))
  }

  def finish(units: Int): Map[String, Any] = {
    val out = path("check/tx_final")
    TxTable.read(spark, table).coalesce(1).write.mode("overwrite")
      .parquet(out)
    val written = ops.filter { case ((c, op), _) =>
      c < units && (op == "merge" || op == "append") }.values.flatten.toSeq
    val ingested = frame(local("tx_base.parquet").toSeq ++
      written.map(r => Row(r.getLong(2), r.getInt(3), r.getLong(4))),
      "tx_base.parquet")
    Map("final_snapshot" -> out, "reads" -> reads.toSeq,
      "sizes" -> Workload.amplification(spark, Seq(table), ingested,
        Some(TxTable.read(spark, table)), path("check/amp")))
  }
}

/** The 20 reference-operator queries, each pass in a seeded order, every
  * result fully produced into the noop sink.
  */
final class OperatorQueries(spark: SparkSession, data: String, seed: Long,
                            rec: Recorder)
    extends Workload(spark, data, rec) {
  private val names = graft.SparkEntry.queries.keys
    .filterNot(_.startsWith("q_x_")).toSeq.sorted

  private def run(name: String): Unit = {
    val df = rec.span("construct", "catalyst")(
      graft.SparkEntry.queries(name)(spark, data))
    rec.span("execute", "spark")(
      df.write.format("noop").mode("overwrite").save())
  }

  private def resultDir = path("check/queries")

  def prepare(): Unit = ()
  // the warm-up pass writes every result out for the oracle comparison,
  // so the check costs no extra pass
  def warm(): Unit = names.foreach { n =>
    graft.SparkEntry.queries(n)(spark, data).write.mode("overwrite")
      .parquet(s"$resultDir/$n")
  }
  def unit(p: Int): Unit =
    new scala.util.Random(seed * 1000003L + p).shuffle(names).foreach { n =>
      rec.op(n, "catalyst", p)(run(n))
    }

  def finish(units: Int): Map[String, Any] =
    Map("query_results" -> resultDir,
      "oracle_sql" -> names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap)
}

/** A persisted BM25 index and IVF inverted lists, each appended to and
  * served from in every cycle, with the file-count maintenance policy on.
  */
final class IndexAppendServe(spark: SparkSession, data: String, rec: Recorder)
    extends Workload(spark, data, rec) {
  private val NumLists = 8
  private val Nprobe = 2
  private val TopK = 10
  // compact after every append, so every cycle does the same work
  private val Maintain = Some(TxTable.Maintenance(maxFiles = 2))
  private val bm25 = path("bm25")
  private val ivfIndex = path("ivf_index")
  private val lists = path("ivf_lists")
  private var docs: Map[Int, Seq[Row]] = Map.empty
  private var vecs: Map[Int, Seq[Row]] = Map.empty
  private var queries: Map[Int, Seq[(String, String)]] = Map.empty
  private var vecQueries: Map[Int, Seq[Row]] = Map.empty
  private var index: DataFrame = _

  private def docFrame(rows: Seq[Row]): DataFrame =
    frame(rows, "idx_docs.parquet").select("doc_id", "text")
  private def vecFrame(rows: Seq[Row]): DataFrame =
    frame(rows, "idx_vecs.parquet").select("vec_id", "embedding")
  private def vecQueryFrame(rows: Seq[Row]): DataFrame =
    frame(rows, "idx_vec_queries.parquet").select("vec_id", "embedding")

  def prepare(): Unit = {
    docs = local("idx_docs.parquet").toSeq.groupBy(_.getInt(2))
    vecs = local("idx_vecs.parquet").toSeq.groupBy(_.getInt(2))
    queries = local("idx_queries.parquet").toSeq.groupBy(_.getInt(0))
      .map { case (c, rs) => c -> rs.map(r => (r.getString(1), r.getString(2))) }
    vecQueries = local("idx_vec_queries.parquet").toSeq.groupBy(_.getInt(0))
    Bm25.buildIndex(docFrame(docs(0)), "doc_id", "text", bm25)
    Similarity.writeIvfIndex(
      Similarity.buildIvfIndex(vecFrame(vecs(0)), numLists = NumLists,
        kmeansIters = 1),
      ivfIndex)
    index = Similarity.loadIvfIndex(spark, ivfIndex)
    Similarity.writeIvfLists(vecFrame(vecs(0)), index, lists)
  }

  override def maxUnits: Int = queries.size

  // one cycle on a copy of the freshly built tables (manifests hold
  // table-relative paths, so a copied table is a valid table)
  def warm(): Unit = {
    val (b, l) = (path("warm/bm25"), path("warm/ivf_lists"))
    Workload.copyTree(bm25, b)
    Workload.copyTree(lists, l)
    Bm25.appendToIndex(spark, b, docFrame(docs(1)), "doc_id", "text",
      maintain = Maintain)
    Bm25.searchIndexed(spark, b, queries(0), topK = TopK).collect()
    Similarity.ivfAppend(spark, l, index, vecFrame(vecs(1)),
      maintain = Maintain)
    Similarity.ivfTopKFromLists(spark, l, vecQueryFrame(vecQueries(0)), TopK,
      Nprobe, index).collect()
  }

  def unit(c: Int): Unit = {
    val newDocs = docFrame(docs(c + 1))
    rec.op("bm25_append", "text.Bm25", c)(
      Bm25.appendToIndex(spark, bm25, newDocs, "doc_id", "text",
        maintain = Maintain))
    rec.op("bm25_search", "text.Bm25", c) {
      val df = rec.span("construct", "text.Bm25")(
        Bm25.searchIndexed(spark, bm25, queries(c), topK = TopK))
      rec.span("execute", "spark")(df.collect())
    }
    val newVecs = vecFrame(vecs(c + 1))
    rec.op("ivf_append", "ann.Similarity", c)(
      Similarity.ivfAppend(spark, lists, index, newVecs, maintain = Maintain))
    val qs = vecQueryFrame(vecQueries(c))
    rec.op("ivf_search", "ann.Similarity", c) {
      val df = rec.span("construct", "ann.Similarity")(
        Similarity.ivfTopKFromLists(spark, lists, qs, TopK, Nprobe, index))
      rec.span("execute", "spark")(df.collect())
    }
  }

  def finish(units: Int): Map[String, Any] = {
    val last = (units - 1).max(0)
    val indexedDocs = docFrame((0 to units).flatMap(docs))
    val got = Bm25.searchIndexed(spark, bm25, queries(last), topK = TopK)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val want = Bm25.search(indexedDocs, "doc_id", "text", queries(last),
        topK = TopK)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val corpus = vecFrame((0 to units).flatMap(vecs))
    val qs = vecQueryFrame(vecQueries(last))
    def ranked(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val ivfAll = ranked(Similarity.ivfTopKFromLists(spark, lists, qs, TopK,
      NumLists, index))
    val exact = ranked(Similarity.bruteForceTopK(corpus, qs, TopK))
    Map(
      "checks" -> Seq(
        check("bm25_indexed_equals_search", got == want && got.nonEmpty,
          s"${got.size} rows vs ${want.size}; ${(got diff want).size} differ"),
        check("ivf_all_lists_equals_exact", ivfAll == exact && exact.nonEmpty,
          s"${ivfAll.size} rows vs ${exact.size}; " +
            s"${(ivfAll diff exact).size} differ")),
      // nothing is removed from either index, so the ingested rows are
      // exactly the head snapshot's rows
      "sizes" -> Map(
        "bm25" -> Workload.amplification(spark, Seq(bm25),
          TxTable.read(spark, bm25), None, path("check/amp_bm25")),
        "ivf" -> Workload.amplification(spark, Seq(lists),
          TxTable.read(spark, lists), None, path("check/amp_ivf"))))
  }
}
