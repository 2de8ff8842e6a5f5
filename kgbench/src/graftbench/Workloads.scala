package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.io.{ParquetTableIO, TableIO}
import graft.kg.{CorpusGen, Eval, Pipeline}
import graft.ops.CurationPipeline

/** What one operation hands to the workload: where to write, and the
  * tracer, if the operation is traced. */
final class OpCtx(val dir: String, val tracer: Option[Tracer]) {
  /** The [[TableIO]] of the checkpoint dir `dir/sub`: a tracing one in traced
    * operations, whose span names carry `prefix`. */
  def io(sub: String, prefix: String = ""): TableIO = {
    val plain = new ParquetTableIO(s"$dir/$sub")
    tracer.fold[TableIO](plain)(new TracingTableIO(plain, _, prefix))
  }

  /** Runs `f` as a span of the tracer, if there is one. */
  def span[A](name: String, kind: String)(f: => A): A =
    tracer.fold(f)(_.span(name, kind)(f))
}

/** What one operation produced: its output rows. */
final case class OpOut(rows: Long)

/** Outcome of the checks made after one operation: precision and recall of
  * its output, the rows it produced, and the problems found. */
final case class Checked(precision: Double, recall: Double, rows: Long, problems: Seq[String])

object Checked {
  def problems(checks: (Boolean, String)*): Seq[String] = checks.collect { case (true, msg) => msg }
}

trait Workload {
  /** Module prefix of the per-layer names (`kg` or `ops`). */
  def layer: String
  /** Generates the inputs from the seed and writes them under `dir`; the
    * last call's inputs are the ones the operations read. */
  def setup(spark: SparkSession, dir: String): Unit
  /** The measured operation. */
  def run(spark: SparkSession, ctx: OpCtx): OpOut
  /** Output checks for one operation, untimed. */
  def check(spark: SparkSession, ctx: OpCtx, out: OpOut): Checked
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "kg" => new Kg(seed)
    case "ops" => new Ops(seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def writeParquet(df: DataFrame, path: String): Unit = df.write.mode("overwrite").parquet(path)
}

/** The `kg.Pipeline` workload. The inputs are a `CorpusGen` corpus V1 whose
  * file-id window is shifted by the seed, its mutation V2, the gold of both
  * and the 500-entity KB. V2 re-derives `CorpusGen`'s mutation over this
  * seed's window: every 101st file deleted, every file with id % 17 == 3
  * modified (one comment line appended), 5% new files after the window.
  *
  * One operation is a day of incremental ingest: a full `Pipeline.run` over
  * V1 (`full/`), then `Pipeline.runDelta` over V2 against it (`delta/`). */
final class Kg(seed: Long) extends Workload {
  val Files = 300
  val layer = "kg"
  private var input = ""
  /** First id of this seed's window of generator files. */
  private val lo: Long = java.lang.Math.floorMod(seed, 1000000L) * 2 * Files

  private def read(spark: SparkSession, table: String) = spark.read.parquet(s"$input/$table")

  def setup(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val (first, end) = (lo, lo + Files)
    val v1 = spark.range(first, end)
    val v2 = spark.range(first, end + Files / 20).filter(id => !(id < end && id % 101 == 0))
    Workload.writeParquet(v1.map(id => CorpusGen.genFile(id)._1).toDF(), s"$dir/src")
    Workload.writeParquet(v1.flatMap(id => CorpusGen.genFile(id)._2).toDF(), s"$dir/gold")
    Workload.writeParquet(v2.map { id =>
      val f = CorpusGen.genFile(id)._1
      if (id % 17 == 3) f.copy(content = f.content + "\n// housekeeping sweep") else f
    }.toDF(), s"$dir/src_v2")
    Workload.writeParquet(v2.flatMap(id => CorpusGen.genFile(id)._2).toDF(), s"$dir/gold_v2")
    Workload.writeParquet(CorpusGen.kbEntries(spark).toDF(), s"$dir/kb")
    Workload.writeParquet(CorpusGen.kbContexts(spark).toDF(), s"$dir/kbctx")
    input = dir
  }

  def run(spark: SparkSession, ctx: OpCtx): OpOut = {
    val (kb, kbCtx) = (read(spark, "kb"), read(spark, "kbctx"))
    val full = new Pipeline(ctx.io("full"), runId = "full").run(spark, read(spark, "src"), kb, kbCtx)
      .count()
    val delta = new Pipeline(ctx.io("delta", "delta."), runId = "delta")
      .runDelta(spark, read(spark, "src_v2"), kb, kbCtx, ctx.io("full", "prev."))
      .count()
    OpOut(full + delta)
  }

  /** Precision and recall of both runs' triples against their gold, each at
    * least 0.95 (the samples are the lower of the two). */
  def check(spark: SparkSession, ctx: OpCtx, out: OpOut): Checked = {
    def pr(sub: String, gold: String) = {
      val r = Eval.precisionRecall(new ParquetTableIO(s"${ctx.dir}/$sub").read(spark, "stage4_triples"),
        read(spark, gold)).collect()(0)
      (r.getAs[Double]("precision"), r.getAs[Double]("recall"))
    }
    val (p1, r1) = pr("full", "gold")
    val (p2, r2) = pr("delta", "gold_v2")
    val (p, r) = (math.min(p1, p2), math.min(r1, r2))
    Checked(p, r, out.rows,
      Checked.problems((p < 0.95) -> s"precision $p1 (full), $p2 (delta) < 0.95",
                       (r < 0.95) -> s"recall $r1 (full), $r2 (delta) < 0.95"))
  }

  /** The delta run's triples must equal those of a full run on V2 (made in
    * traced runs only: it costs another full build). */
  def deltaEqualsFull(spark: SparkSession, ctx: OpCtx): Seq[String] = {
    val full = new Pipeline(new ParquetTableIO(s"${ctx.dir}/full_v2"), runId = "full_v2")
      .run(spark, read(spark, "src_v2"), read(spark, "kb"), read(spark, "kbctx"))
    val delta = new ParquetTableIO(s"${ctx.dir}/delta").read(spark, "stage4_triples")
    val diff = full.exceptAll(delta).count() + delta.exceptAll(full).count()
    Checked.problems((diff != 0) -> s"delta triples differ from a full run on V2 in $diff rows")
  }
}

/** The `ops` workload. The inputs are a document corpus for the curation
  * funnel, with 1% exact duplicates (id % 100 == 2 copies id - 2) and 1% near
  * duplicates (id % 100 == 1 is id - 1 plus one word) planted, and seeded
  * tables of the testdata shape for the operator leaves (documents,
  * embeddings, and the TPC-H tables `GraphOps.edges` builds the KG edge
  * graph from).
  *
  * One operation is `CurationPipeline.run` with default options, then a
  * fixed-order sweep of `SparkEntry.queries` leaves, each timed from the call
  * to the end of a `noop`-format write, which consumes every column it
  * computes. */
final class Ops(seed: Long) extends Workload {
  val Docs = 2000L
  val LeafDocs = 500L
  val Vectors = 500L
  val Customers = 1500L
  val Suppliers = 100L
  val Orders = 15000L
  val layer = "ops"
  private var input = ""
  /** Where the checks write the leaves' results for the DuckDB oracle, if
    * anywhere (in traced runs only: it recomputes every leaf). */
  var oracleDir: Option[String] = None

  def leafInput: String = s"$input/leaves"

  def setup(spark: SparkSession, dir: String): Unit = {
    val id = col("id")
    val cid = when(pmod(id, lit(100)) === 1, id - 1).when(pmod(id, lit(100)) === 2, id - 2)
      .otherwise(id)
    // hex digits become letters so the words pass the alphabetic-share gate
    val words = transform(sequence(lit(0), lit(39)),
      i => translate(
        substring(md5(concat_ws("_", lit(seed.toString), cid.cast("string"), i.cast("string"))), 1, 8),
        "0123456789", "ghijklmnop"))
    val extra = when(pmod(id, lit(100)) === 1, lit(" mutated")).otherwise(lit(""))
    Workload.writeParquet(spark.range(Docs).select(
      id.as("doc_id"),
      concat(concat_ws(" ", words), extra).as("text"),
      element_at(array(Seq("en", "de", "es", "fr", "zh").map(lit): _*),
                 (pmod(id, lit(5)) + 1).cast("int")).as("lang"),
      concat(lit("src"), pmod(id, lit(20)).cast("string")).as("source")), s"$dir/docs")
    setupLeaves(spark, s"$dir/leaves")
    input = dir
  }

  private def setupLeaves(spark: SparkSession, dir: String): Unit = {
    val id = col("id")
    def h(parts: Column*): Column = xxhash64(lit(seed) +: parts: _*)
    def pick(xs: Seq[String], parts: Column*): Column =
      element_at(array(xs.map(lit): _*), (pmod(h(parts: _*), lit(xs.size.toLong)) + 1).cast("int"))
    val text = concat_ws(" ", transform(sequence(lit(1), (pmod(h(id), lit(70L)) + 20).cast("int")),
      i => pick(Ops.Vocabulary, id, i)))
    Workload.writeParquet(spark.range(LeafDocs).select(id.as("doc_id"), text.as("text"),
        pick(Seq("en", "en", "en", "de", "es", "fr", "zh"), id, lit(-1)).as("lang"),
        concat(lit("src"), pmod(id, lit(20)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")), s"$dir/documents.parquet")
    // ten clusters: a label's centre plus a smaller per-vector offset
    def unit(parts: Column*) = (pmod(h(parts: _*), lit(2001L)) - 1000).cast("double") / 1000.0
    val label = pmod(h(id, lit(-2)), lit(10L)).cast("int")
    Workload.writeParquet(spark.range(Vectors).select(id.as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        p => (unit(lit(-3), label, p) * 0.2 + unit(id, p) * 0.05).cast("float")).as("embedding"),
      label.as("label")), s"$dir/embeddings.parquet")
    Workload.writeParquet(spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION"), id.cast("string")).as("n_name"),
      pmod(id, lit(5)).cast("int").as("n_regionkey")), s"$dir/nation.parquet")
    Workload.writeParquet(spark.range(1, Customers + 1).select(id.as("c_custkey"),
      concat(lit("Customer#"), id.cast("string")).as("c_name"),
      pmod(h(id, lit(-4)), lit(25L)).cast("int").as("c_nationkey")), s"$dir/customer.parquet")
    Workload.writeParquet(spark.range(1, Suppliers + 1).select(id.as("s_suppkey"),
      concat(lit("Supplier#"), id.cast("string")).as("s_name"),
      pmod(h(id, lit(-7)), lit(25L)).cast("int").as("s_nationkey")), s"$dir/supplier.parquet")
    Workload.writeParquet(spark.range(1, Orders + 1).select(id.as("o_orderkey"),
      (pmod(h(id, lit(-9)), lit(Customers)) + 1).as("o_custkey")), s"$dir/orders.parquet")
  }

  def run(spark: SparkSession, ctx: OpCtx): OpOut = {
    val packed = new CurationPipeline(ctx.io("curation"), runId = "bench")
      .run(spark, spark.read.parquet(s"$input/docs"))
      .count()
    Ops.Leaves.foreach { leaf =>
      ctx.span(leaf, "leaf") {
        SparkEntry.queries(leaf)(spark, leafInput).write.format("noop").mode("overwrite").save()
      }
    }
    OpOut(packed)
  }

  /** The funnel must remove exactly the planted copies: the exact ones at
    * c2, the near ones at c3; precision and recall are over the removed ids.
    * With `oracleDir` set, every leaf is recomputed and written there as
    * parquet, where the DuckDB oracle reads it after the run. */
  def check(spark: SparkSession, ctx: OpCtx, out: OpOut): Checked = {
    val io = new ParquetTableIO(s"${ctx.dir}/curation")
    def ids(t: String) = io.read(spark, t).select(col("doc_id"))
    val removedExact = ids("c1_quality").except(ids("c2_exact_dedup"))
    val removedNear = ids("c2_exact_dedup").except(ids("c3_neardup_collapse"))
    val kind = pmod(col("doc_id"), lit(100))
    val counts = removedExact.withColumn("stage", lit("c2"))
      .unionByName(removedNear.withColumn("stage", lit("c3")))
      .agg(count(when(col("stage") === "c2", 1)).as("c2"),
           count(when(col("stage") === "c3", 1)).as("c3"),
           count(when(col("stage") === "c2" && kind === 2, 1)).as("c2_planted"),
           count(when(col("stage") === "c3" && kind === 1, 1)).as("c3_planted"))
      .collect()(0)
    val Seq(c2, c3, c2ok, c3ok) = (0 until 4).map(counts.getLong)
    val plantedExact = (0L until Docs).count(_ % 100 == 2).toLong
    val plantedNear = (0L until Docs).count(_ % 100 == 1).toLong
    val removed = c2 + c3

    oracleDir.foreach { d =>
      Ops.Leaves.foreach(leaf => Workload.writeParquet(SparkEntry.queries(leaf)(spark, leafInput), s"$d/$leaf"))
    }
    Checked(if (removed == 0) 0.0 else (c2ok + c3ok).toDouble / removed,
      (c2ok + c3ok).toDouble / (plantedExact + plantedNear), out.rows,
      Checked.problems(
        (c2 != plantedExact || c2ok != c2) ->
          s"c2_exact_dedup removed $c2 docs ($c2ok planted), expected the $plantedExact planted",
        (c3 != plantedNear || c3ok != c3) ->
          s"c3_neardup_collapse removed $c3 docs ($c3ok planted), expected the $plantedNear planted"))
  }
}

object Ops {
  /** The leaves, in sweep order: one for each module with `localCheckpoint`
    * sites outside the curation funnel (Similarity, GraphOps, Bpe), and the
    * TF-IDF cosine of RelOps. */
  val Leaves: Seq[String] = Seq("sim_ivf_topk", "kg_triangles", "bpe_merges", "a4_cosine_query")

  /** Words of the leaves' documents: the testdata vocabulary, which holds the
    * query terms of the TF-IDF leaves and the stop words they drop. */
  val Vocabulary: Seq[String] = Seq(
    "a", "the", "spark", "join", "data", "table", "row", "column", "key", "value", "scan", "query",
    "sort", "hash", "agg", "group", "window", "filter", "merge", "batch", "stream", "line", "part",
    "order", "customer", "small", "big", "fast", "slow", "vector")
}
