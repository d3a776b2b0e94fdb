package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.functions.TextAnalysis
import graft.operators.{Dedup, Mix}
import graft.operators.Multimodal.MediaRow
import graft.pipelines.{Curate, CurateMedia}
import graft.streaming.Ingest

/** Runs one workload against the engine's public entry points and
  * records spans and Spark events to `<out>/events.jsonl`; `run.py`
  * folds them into metrics. Outputs are checked after the timed region.
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <outDir> <workDir>
  */
object Main {

  /** Inventory rows of the `batch` workload, one per layer, with the
    * layer each exercises. p50 and r52 also rescan `documents`, and r61
    * pins its ranks. */
  val InventoryRows: Seq[(String, String)] = Seq(
    "q09_join3_agg" -> "queries.core", "p07_ann_ivf" -> "Ann",
    "r93_psi_drift" -> "Quality", "p50_hybrid_rrf" -> "Retrieval",
    "r61_pagerank" -> "Graph", "p63_image_phash" -> "Multimodal",
    "r95_funnel" -> "Behavior", "r57_ngram_cms" -> "Sketch",
    "p20_dedup_corpus" -> "Dedup", "p08_text_stats" -> "TextAnalysis",
    "r52_resample" -> "Mix")

  /** Input set-up runs this many times from scratch; `setup_s` counts
    * the median repetition. */
  val SetupReps = 3

  /** Open-loop tick: one CDC file and one documents file land every
    * `TickSeconds`. There is no warm-up tick: the first tick pays the
    * fresh JVM's planning and code generation (about twice a warm
    * tick), and the open loop charges that stall to the next tick, as a
    * freshly started ingest service would. */
  val TickSeconds = 8.0
  val CdcPerTick = 1000
  val DocsPerTick = 150
  val MinTicks = 3

  val cdcSchema: StructType = StructType(Seq(
    StructField("account_id", LongType), StructField("status", StringType),
    StructField("balance", DoubleType), StructField("lsn_seen", LongType)))

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, out, work) = argv
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime / 1000.0
    val loadStart = osBean.getSystemLoadAverage
    val sessionT0 = System.nanoTime()
    val spark = graft.Sessions.local(cores, "perfbench")
    val sessionS = (System.nanoTime() - sessionT0) / 1e9
    val rec = new Recorder(spark)
    rec.emit("e" -> "env", "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced, "master" -> spark.sparkContext.master, "nproc" -> cores,
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "jdk" -> System.getProperty("java.version"), "load_start" -> loadStart,
      "jvm_start" -> jvmStart, "session_s" -> sessionS)
    val w = new Workload(spark, rec, seed, seconds, traced, Paths.get(work))
    try workload match {
      case "batch" => w.batch(Paths.get(out))
      case "ingest_stream" => w.ingestStream()
      case other => sys.error(s"unknown workload $other")
    } finally {
      rec.emit("e" -> "env_end", "load_end" -> osBean.getSystemLoadAverage)
      rec.write(s"$out/events.jsonl")
      spark.stop()
    }
  }

  /** Order-insensitive digest of a frame: row count, the sum of row
    * hashes mod a prime, and their xor. */
  def digest(df: DataFrame): String = {
    val h = xxhash64(df.columns.sorted.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(pmod(h, lit(1000000007L))), bit_xor(h)).head()
    Seq(0, 1, 2).map(i => Option(r.get(i)).getOrElse(0)).mkString(":")
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

final class Workload(spark: SparkSession, rec: Recorder, seed: Long,
    seconds: Double, traced: Boolean, work: Path) {
  import Main._
  import spark.implicits._

  private def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }

  /** One timed op: a span of `layer`, recorded with its outcome. In a
    * traced run the op's counters are settled before the next op. */
  private def op[A](layer: String, name: String, pass: Int)(body: => A): Option[A] = {
    val t0 = rec.now()
    val cpu0 = cpuSeconds()
    val r = try Some(rec.span(layer, name, "op" -> true, "pass" -> pass)(body))
    catch { case e: Throwable =>
      rec.emit("e" -> "op_error", "name" -> name, "error" -> String.valueOf(e.getMessage).take(300))
      None
    }
    rec.emit("e" -> "op", "name" -> name, "layer" -> layer, "pass" -> pass,
      "due" -> t0, "t0" -> t0, "t1" -> rec.now(), "cpu_s" -> (cpuSeconds() - cpu0),
      "ok" -> r.isDefined)
    if (traced) rec.settle()
    r
  }

  /** CPU time of the whole process: driver, executor threads, JIT, GC. */
  private def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def phase(name: String): Unit = {
    rec.settle()
    rec.emit("e" -> "phase", "name" -> name, "t" -> rec.now())
  }

  /** An op's output check, run after the timed region: (ok, detail). */
  type Check = () => (Boolean, String)

  /** Closed loop, one client: whole passes over `ops` until `seconds`
    * have elapsed. An op returns the check of its output, if it has
    * one; after the loop the checks run, beside the `also` tasks. */
  private def closedLoop(ops: Seq[(String, String, () => Option[Check])],
      also: Seq[() => Unit]): Unit = {
    phase("run")
    val t0 = rec.now()
    var pass = 0
    val checks = Seq.newBuilder[(String, Check)]
    while (pass == 0 || rec.now() - t0 < seconds) {
      ops.foreach { case (layer, name, f) =>
        op(layer, name, pass)(f()).flatten.foreach(c => checks += s"$name#$pass" -> c)
      }
      pass += 1
    }
    phase("check")
    inParallel(checks.result().map { case (name, c) => () =>
      val (ok, detail) = try rec.span("check", name)(c())
        catch { case e: Exception => (false, String.valueOf(e.getMessage).take(300)) }
      check(name, ok, detail)
    } ++ also)
  }

  /** Input set-up, `SetupReps` times from scratch, each repetition in a
    * span of its own. Returns the first repetition's result. */
  private def setup[A](name: String)(body: Int => A): A =
    (0 until SetupReps).map(r => rec.span("gen", s"$name #$r", "rep" -> r)(body(r))).head

  /** Runs the tasks four at a time; the calling thread's span is
    * theirs. */
  private def inParallel(tasks: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(tasks)(t => Future(t())),
      scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
  }

  private def writeOne(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  private def check(name: String, ok: Boolean, detail: String = ""): Unit =
    rec.emit("e" -> "check", "name" -> name, "ok" -> ok, "detail" -> detail)

  // ── batch ──────────────────────────────────────────────────────────

  def batch(out: Path): Unit = {
    val spec = Inputs.mediaSpec(seed)
    val data = setup("batch inputs") { r =>
      val d = dir(s"batch-s$seed-r$r")
      val tables = Inputs.inventoryTables(spark, seed) +
        ("media" -> Inputs.media(spark, spec).toDF())
      inParallel(tables.toSeq.map { case (n, df) => () => writeOne(df, s"$d/$n.parquet") })
      d
    }
    val queries = graft.SparkEntry.queries
    val docs = spark.read.parquet(s"$data/documents.parquet")
    val media = spark.read.parquet(s"$data/media.parquet").as[MediaRow]
    lazy val curateWant = rec.span("check", "Curate public stages") {
      val (packed, st) = curateStages(docs)
      (digest(packed), st)
    }
    val rows = InventoryRows.map { case (n, layer) =>
      (layer, n, () => { noop(queries(n)(spark, data)); Option.empty[Check] })
    }
    val curate = ("Curate", "Curate.run", () => {
      val (packed, st) = Curate.run(docs)
      noop(packed)
      Some[Check](() => {
        val (want, ws) = curateWant
        val got = digest(packed)
        val s = st.get
        val have = (s.input, s.afterGate, s.afterDedup, s.afterPrune, s.chunks)
        (got == want && have == ws, s"digest $got vs $want; $have vs $ws")
      })
    })
    val curateMedia = ("CurateMedia", "CurateMedia.run", () => {
      val (kept, st) = CurateMedia.run(media)
      noop(kept)
      Some[Check](() => {
        val (byKind, decodable) = Inputs.mediaExpected(spec)
        def n(k: String) = byKind.getOrElse(k, Set.empty).size.toLong
        val want = CurateMedia.MediaStats(spec.size.toLong, decodable,
          byKind.values.map(_.size.toLong).sum, n("image"), n("audio"), n("video"))
        val got = kept.select("doc_id").as[Long].collect().toSet
        (got == byKind.values.flatten.toSet && st.contains(want), s"${st.get} vs $want")
      })
    })
    // The pipeline ops come last, behind the seed-permuted rows: they
    // run the most code, so in first place they would absorb most of
    // the fresh JVM's warm-up, and their time would follow the order.
    val order = new scala.util.Random(seed).shuffle(rows) :+ curate :+ curateMedia
    // Each row's output is written once more, outside the timed region,
    // for run.py to compare against the row's DuckDB oracle.
    val names = InventoryRows.map(_._1)
    closedLoop(order, names.map(n => () => rec.span("check", s"dump $n") {
      writeOne(queries(n)(spark, data), out.resolve("inventory").resolve(n).toString)
    }))
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(out.resolve("inventory_oracle.json"), Json.obj(
      "rows" -> names, "sql" -> names.filter(oracle.contains).map(n => n -> oracle(n)).toMap) + "\n")
    rec.emit("e" -> "inventory_data", "dir" -> data)
  }

  /** `Curate.run`'s default chain composed from its public stages, each
    * materialised in a span of the layer it belongs to. Returns the
    * packed output and (input, afterGate, afterDedup, afterPrune, chunks). */
  private def curateStages(docs: DataFrame): (DataFrame, (Long, Long, Long, Long, Long)) = {
    Dedup.ensureCheckpointDir(spark)
    def stage(layer: String, name: String)(df: => DataFrame): DataFrame =
      rec.span(layer, name) { df.localCheckpoint() }
    val gated = stage("TextAnalysis", "qualityGate") {
      docs.join(TextAnalysis.qualityGate(docs).filter(col("kept")).select("doc_id"), "doc_id")
    }
    val deduped = stage("Dedup", "dedupCorpus") { Dedup.dedupCorpus(gated, 0.5) }
    val pruned = stage("TextAnalysis", "qualityPrune") {
      deduped.join(TextAnalysis.qualityPrune(deduped, 0.25).select("doc_id"), "doc_id")
    }
    val resampled = stage("Mix", "temperatureWeights/resampleByWeight") {
      val weights = Mix.temperatureWeights(pruned, Seq("lang", "source"), 0.7)
        .select(col("lang"), col("source"), col("weight"))
      Mix.resampleByWeight(pruned.select("lang", "source", "doc_id"), weights,
          Seq("lang", "source"), maxCopies = 8)
        .join(pruned.select("doc_id", "text"), "doc_id")
        .select((col("doc_id") * 8 + col("copy") - 1).as("doc_id"), col("text"))
    }
    val chunks = stage("TextAnalysis", "chunk") { TextAnalysis.chunk(resampled, 32, 8) }
    val nChunks = chunks.count()
    val packed = stage("TextAnalysis", "packSequences") {
      TextAnalysis.packSequences(chunks, 64, Mix.deriveShards(nChunks, 4000000L, 4))
    }
    (packed, (docs.count(), gated.count(), deduped.count(), pruned.count(), nChunks))
  }

  // ── ingest_stream ──────────────────────────────────────────────────

  def ingestStream(): Unit = {
    val ticks = math.max(MinTicks, math.ceil(seconds / TickSeconds).toInt)
    val root = dir(s"stream-s$seed")
    def fresh(name: String): String = {
      val p = Paths.get(root, name)
      if (Files.exists(p)) deleteTree(p)
      Files.createDirectories(p)
      p.toString
    }
    val Seq(cdcSrc, docsSrc) = Seq("cdc-src", "docs-src").map(fresh)
    val Seq(cdcOut, cdcCk, docsOut, idx, state, ck) =
      Seq("cdc-out", "cdc-ck", "docs-out", "docs-idx", "docs-state", "docs-ck").map(fresh)
    val nDocs = ticks.toLong * DocsPerTick
    val (stage, docSchema) = setup("envelopes and document batches") { r =>
      val stage = fresh(s"stage-r$r")
      val accounts = graft.gen.DataGen.accounts(spark, 1000, 5000, seed)
        .select(col("account_id"), col("status"), col("balance").cast("double"))
        .as[(Long, String, Double)].collect()
        .map { case (k, s, b) => k -> (s, b) }.toMap
      val cdc = Inputs.cdcBatches(accounts, ticks, CdcPerTick, seed)
      cdc.zipWithIndex.foreach { case (lines, k) =>
        Files.writeString(Paths.get(stage, s"cdc-$k.json"), lines.mkString("\n") + "\n")
      }
      // Ticks carry consecutive md5(doc_id) ranges of one corpus, the
      // arrival order under which the stream equals the batch composition.
      val corpus = graft.gen.DataGen.documents(spark, nDocs, seed)
      val tick = (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(md5(col("doc_id").cast("string")))) - 1) /
        DocsPerTick
      corpus.withColumn("tick", tick.cast("int")).repartition(col("tick"))
        .write.partitionBy("tick").parquet(s"$stage/docs")
      (stage, corpus.schema)
    }
    def land(from: Path, toDir: String): Unit = {
      val f = if (Files.isDirectory(from))
        Files.list(from).filter(_.toString.endsWith(".parquet")).findFirst().get()
      else from
      Files.move(f, Paths.get(toDir, from.getFileName.toString + "-" + f.getFileName),
        StandardCopyOption.ATOMIC_MOVE)
    }
    def drainCdc(src: String, out: String, ckp: String): Unit =
      Ingest.cdcUpsertStreamPartitioned(spark, cdcSchema, "account_id", src, out, ckp)
    def drainDocs(src: String, out: String, i: String, st: String, ckp: String): Unit =
      Ingest.curateIngestStream(spark, docSchema, src, out, i, st, ckp, Long.MaxValue / 4)
    phase("run")
    val start = rec.now()
    (0 until ticks).foreach { k =>
      val due = start + k * TickSeconds
      val wait = due - rec.now()
      if (wait > 0) Thread.sleep((wait * 1000).toLong)
      val landed = rec.now()
      val cpu0 = cpuSeconds()
      land(Paths.get(stage, s"cdc-$k.json"), cdcSrc)
      land(Paths.get(stage, "docs", s"tick=$k"), docsSrc)
      var ok = true
      def timed(layer: String)(body: => Unit): Double = {
        try rec.span(layer, s"tick $k", "op" -> true, "pass" -> 0)(body)
        catch { case e: Throwable =>
          ok = false
          rec.emit("e" -> "op_error", "name" -> s"$layer tick $k",
            "error" -> String.valueOf(e.getMessage).take(300))
        }
        rec.now()
      }
      val cdcDone = timed("Ingest.cdc")(drainCdc(cdcSrc, cdcOut, cdcCk))
      val docsDone = timed("Ingest.curate")(drainDocs(docsSrc, docsOut, idx, state, ck))
      rec.emit("e" -> "op", "name" -> s"tick $k", "layer" -> "Ingest", "pass" -> 0,
        "due" -> due, "t0" -> landed, "t1" -> docsDone, "cdc_t1" -> cdcDone,
        "cpu_s" -> (cpuSeconds() - cpu0), "ok" -> ok)
      if (traced) rec.settle()
    }
    phase("check")
    def bytes(p: String): Long = Files.walk(Paths.get(p)).filter(Files.isRegularFile(_))
      .mapToLong(Files.size(_)).sum()
    rec.emit("e" -> "state", "layer" -> "Ingest.cdc", "bytes" -> (bytes(cdcOut) + bytes(cdcCk)))
    rec.emit("e" -> "state", "layer" -> "Ingest.curate",
      "bytes" -> Seq(docsOut, idx, state, ck).map(bytes).sum)
    inParallel(Seq(
      () => rec.span("check", "cdc law") {
        val snapshot = spark.read.parquet(cdcOut).drop("kb")
        val expected = Ingest.latestPerKey(
          Ingest.decodeCdc(spark.read.text(cdcSrc), cdcSchema), "account_id")
        val (got, want) = (digest(snapshot), digest(expected))
        check("cdc state == latestPerKey(landed envelopes)", got == want, s"$got vs $want")
      },
      () => rec.span("check", "curate law") {
        val batch = curateBatchComposition(spark.read.parquet(docsSrc))
        val streamed = spark.read.parquet(docsOut).select("domain", "doc_id", "n_tok", "cum")
        val (got, want) = (digest(streamed), digest(batch))
        check("curate stream == batch composition",
          got == want && got.split(':')(0).toLong > 0, s"$got vs $want")
      }))
  }

  /** Right-hand side of the stream == batch law for `curateIngestStream`:
    * gate, then survivors on the md5-prefix surrogate id, then the
    * token budget over the original ids. */
  private def curateBatchComposition(corpus: DataFrame): DataFrame = {
    val gated = corpus.join(
      TextAnalysis.qualityGate(corpus).filter(col("kept")).select("doc_id"), "doc_id")
    val relabeled = gated.withColumn("orig_id", col("doc_id"))
      .withColumn("doc_id",
        conv(substring(md5(col("orig_id").cast("string")), 1, 15), 16, 10).cast("long"))
    val pairs = Dedup.lshCandidates(Dedup.lshBands(Dedup.minhashSignatures(
      Dedup.shingleHashes(relabeled), hashed = true)))
    val surv = Dedup.survivors(relabeled, pairs)
      .select(col("orig_id").as("doc_id"), col("text"), col("lang"))
    TextAnalysis.tokenBudgetSample(surv, Long.MaxValue / 4)
      .select("domain", "doc_id", "n_tok", "cum")
  }

  private def deleteTree(p: Path): Unit = {
    val paths = Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
    try paths.forEach(x => Files.delete(x)) finally paths.close()
  }
}
