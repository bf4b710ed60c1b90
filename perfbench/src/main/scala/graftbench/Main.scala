package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{IndexCatalog, InvertedIndex, PostingBlocks}
import graft.query.{BlockMaxTopK, QueryEngine}
import graft.score.BM25
import graft.tools.DocIdMint

/** One workload, as `run.py` describes it.
  *
  * @param tiered   the corpus is tiered and its doc ids are minted in impact
  *                 order, so block-max bounds prune; otherwise the corpus is
  *                 uniform with ids in generation order, and they do not
  * @param mutating the timed loop appends and removes documents between
  *                 query cycles, instead of only querying
  * @param batch    documents per appended batch
  * @param batches  appended batches available as input
  */
final case class Workload(name: String, tiered: Boolean, mutating: Boolean,
    batch: Long, batches: Int)

/** The index as the searchers see it after the last open. */
final case class Served(idx: InvertedIndex, blocks: Dataset[PostingBlocks.Block],
    blockSize: Long, rangesPerGroup: Long)

/** Runs one workload in a fresh Spark session and writes its raw samples,
  * counters and spans as one JSON object; `run.py` generates the inputs
  * and turns the output into metrics.
  *
  * Arguments: --workload --tiered --mutating --batch --batches --seed
  * --seconds --trace --input --tmp --out --cpus, and --launched-ms, the
  * epoch milliseconds at which the JVM was launched.
  */
object Main {
  val Executors = Seq("bm25", "wand")
  val K = 10

  /** Documents removed per mutation round. */
  val Removes = 50

  /** Query cycles after each mutation round, and the fewest query cycles
    * an untraced run times.
    */
  val CyclesPerRound = 2
  val MinCycles = 2

  /** Doc ids per block. graft's default, 4096, suits corpora of 10^5
    * documents and up; at 10^4 it leaves a term one to three blocks and
    * nothing to prune. 256 gives a term about as many blocks here as the
    * default gives at 200k documents.
    */
  val BlockSize = 256L

  /** Term-hash buckets of the posting table; graft's default of 64 would
    * leave each bucket a few kilobytes at these corpus sizes.
    */
  val Buckets = 8

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workload(kv("workload"), kv("tiered") == "1", kv("mutating") == "1",
      kv("batch").toLong, kv("batches").toInt)
    val cpus = kv("cpus").toInt
    val tmp = kv("tmp")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${w.name}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val startupS = (System.currentTimeMillis() - kv("launched-ms").toLong) / 1e3
    val out =
      try new Run(spark, w, kv("seed").toLong, kv("seconds").toDouble,
        kv("trace") == "1", kv("input"), tmp, startupS).run()
      finally spark.stop()
    Files.writeString(Paths.get(kv("out")), Json(out))
  }
}

final class Run(spark: SparkSession, w: Workload, seed: Long, seconds: Double,
    traced: Boolean, input: String, tmp: String, startupS: Double) {
  import Main._

  private val tracer = new Tracer(spark.sparkContext, traced)
  private val rnd = new Random(seed)
  private val started = System.nanoTime()
  private val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private val facts = mutable.LinkedHashMap.empty[String, Any]
  private var attempted = 0L
  private var failed = 0L
  private val failures = ArrayBuffer.empty[String]

  private val root = s"$tmp/index"
  private val queries = Files.readAllLines(Paths.get(input, "queries.tsv")).asScala.toIndexedSeq
    .map(_.split("\t", 2)).map { case Array(shape, q) => (shape, q) }
  private var queriesUsed = 0
  private val live = mutable.LinkedHashSet.empty[Long]
  private val removed = mutable.HashSet.empty[Long]
  private var firstBatchId = 0L
  private var batches = 0
  private var pairs = 0
  private var served: Served = _
  private val seen = mutable.LinkedHashSet.empty[String]

  private def secsOf[T](body: => T): (T, Double) = {
    val t = System.nanoTime(); val r = body; (r, (System.nanoTime() - t) / 1e9)
  }

  /** Record a sample; a progress line goes to the JVM log. */
  private def sample(name: String, v: Double): Unit = {
    samples.getOrElseUpdate(name, ArrayBuffer.empty) += v
    println(f"${(System.nanoTime() - started) / 1e9}%8.2f $name $v%.4f")
  }

  private def fail(what: String, why: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += s"$what: $why"
  }

  /** One counted operation: a throw or a failing check marks it failed. */
  private def op[T](what: String)(body: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    val r = try Some(body) catch { case NonFatal(e) => fail(what, e.toString); None }
    r.flatMap(x => check(x) match { case None => Some(x); case Some(why) => fail(what, why); None })
  }

  // ---- inputs --------------------------------------------------------------

  /** The base corpus as the indexer receives it. A tiered corpus gets its
    * doc ids minted in impact order (the key of graft.Bench's tiered corpus:
    * keyword-density band descending, then length, then path) and is
    * persisted, since minted ids are stable only once written.
    */
  private lazy val corpus: DataFrame = {
    val in = spark.read.parquet(s"$input/corpus.parquet")
    if (!w.tiered) in.drop("band", "ntok")
    else {
      DocIdMint.mintOrdered(in.drop("doc_id"),
        Seq(col("band").desc, col("ntok").asc, col("path").asc))
        .drop("band", "ntok").write.parquet(s"$tmp/corpus")
      spark.read.parquet(s"$tmp/corpus")
    }
  }

  /** Appended batch `b`, its ids above every id of the corpus. */
  private def batchBase(b: Int): Long = firstBatchId + b * w.batch
  private def batchDf(b: Int): DataFrame =
    spark.read.parquet(s"$input/batch-$b.parquet").drop("band", "ntok")
      .withColumn("doc_id", col("doc_id") + lit(batchBase(b)))

  // ---- queries ---------------------------------------------------------------

  private def topK(s: Served, executor: String, shape: String, q: String): Seq[Checks.Hit] = {
    val filter = if (shape != "and") None
      else Some(tracer.span("graft.query:conjunctiveFilter")(QueryEngine.conjunctiveFilter(s.idx, q)))
    val df = executor match {
      case "bm25" => tracer.span("graft.query:QueryEngine.query")(
        QueryEngine.query(s.idx, q, BM25(), limit = K, docFilter = filter))
      case "wand" => tracer.span("graft.query:BlockMaxTopK.query")(
        BlockMaxTopK.query(s.idx, s.blocks, q, BM25(), k = K, blockSize = s.blockSize,
          rangesPerGroup = s.rangesPerGroup, docFilter = filter))
    }
    tracer.span("graft.query:collect")(df.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1))))
  }

  /** One checked query on one executor, with its seconds. */
  private def one(ex: String, shape: String, q: String, spanned: Boolean)
      : (Option[Seq[Checks.Hit]], Double) =
    secsOf(op(s"$ex '$q'") {
      if (spanned) tracer.span(s"op:$ex.$shape")(topK(served, ex, shape, q))
      else tracer.untraced(topK(served, ex, shape, q))
    } { hits =>
      Checks.canonicalOrder(hits).orElse(Checks.nonEmpty(hits))
        .orElse(Checks.noneRemoved(hits, removed))
    })

  /** One query sent to both executors, in alternating order; both results
    * are checked, and against each other. A timed query of a traced run
    * runs twice back to back, with and without spans, in alternating
    * order; the two medians give the tracing overhead.
    */
  private def queryPair(shape: String, q: String, timed: Boolean): Unit = {
    val flip = pairs % 2 == 1
    pairs += 1
    val got = (if (flip) Executors.reverse else Executors).map { ex =>
      val r =
        if (traced && timed) {
          val both = Seq(!flip, flip).map(t => t -> one(ex, shape, q, spanned = t)).toMap
          for ((t, (Some(_), secs)) <- both) sample((if (t) "traced." else "untraced.") + ex, secs)
          both(true)._1
        } else {
          val (r, secs) = one(ex, shape, q, spanned = false)
          if (timed && r.isDefined) sample(ex, secs)
          r
        }
      ex -> r
    }.toMap
    for (b <- got("bm25"); x <- got("wand"); why <- Checks.sameTopK(b, x)) {
      // the pair's two operations both count as failed
      fail(s"bm25 '$q'", s"wand differs: $why"); fail(s"wand '$q'", s"wand differs: $why")
    }
    if (timed) seen += q
  }

  /** The next cycle of the query stream: one query of every shape. */
  private def nextCycle(): Seq[(String, String)] = {
    queriesUsed += 5
    queries.slice(queriesUsed - 5, queriesUsed)
  }

  private def queryCycle(timed: Boolean): Unit =
    nextCycle().foreach { case (shape, q) => queryPair(shape, q, timed) }

  // ---- index -----------------------------------------------------------------

  private def open(): Option[Served] =
    op("open") {
      tracer.span("op:open") {
        val idx = tracer.span("graft.index:read")(IndexCatalog.read(spark, root))
        val (blocks, bs, rpg) = tracer.span("graft.index:readBlocks")(IndexCatalog.readBlocks(spark, root))
        Served(idx, blocks, bs, rpg)
      }
    } { s => Checks.liveCount(s.idx.fieldStats().n, live.size) }

  /** Mint ids (tiered corpus), build, fold blocks and open; returns the
    * seconds since JVM launch. Nothing is warmed: the first queries pay
    * for their plans' code generation, as a caller of a fresh JVM does.
    */
  private def setup(): Double = {
    tracer.span("setup") {
      val docs = tracer.span("mint")(corpus)
      val (_, b) = secsOf(tracer.span("graft.index:build")(
        IndexCatalog.build(docs, "doc_id", Seq("content", "path"), root, Buckets)))
      val (_, bb) = secsOf(tracer.span("graft.index:buildBlocks")(
        IndexCatalog.buildBlocks(spark, root, BlockSize)))
      sample("build_s", b); sample("blocks_s", bb)
      val (blocks, bs, rpg) = IndexCatalog.readBlocks(spark, root)
      served = Served(IndexCatalog.read(spark, root), blocks, bs, rpg)
    }
    startupS + (System.nanoTime() - started) / 1e9
  }

  private def manifest(): Map[String, String] = {
    val Line = """\s*"([^"]+)"\s*:\s*"([^"]*)".*""".r
    Files.readAllLines(Paths.get(root, "manifest.json")).asScala.toSeq.collect {
      case Line(k, v) => k -> v
    }.toMap
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  /** Stage times, row counts and on-disk sizes of the fresh build. */
  private def recordLayout(): Unit = {
    val m = manifest()
    for (st <- IndexCatalog.Stages)
      facts(s"index.stage.${st}_s") = m(s"stage.$st.secs").toDouble
    for (t <- Seq("postings", "termdict", "blocks"))
      facts(s"index.$t.rows") = m(s"stage.$t.rows").toLong
    for (t <- Seq("postings", "blocks", "termdict", "docstats"))
      facts(s"index.disk.${t}_mb") = dirBytes(Paths.get(root, m.getOrElse(s"table.$t", t))) / 1e6
    val inputBytes = corpus.agg(sum(octet_length(col("content")) + octet_length(col("path"))))
      .head().getLong(0)
    facts("index_bytes_per_input_byte") = dirBytes(Paths.get(root)).toDouble / inputBytes
  }

  /** Append a batch and fold it into the block table, remove some live
    * documents, and re-open the index.
    */
  private def mutationRound(): Unit = {
    val b = batches; batches += 1
    op("append") {
      tracer.span("op:append") {
        val (_, a) = secsOf(tracer.span("graft.index:addDocuments")(
          IndexCatalog.addDocuments(batchDf(b), "doc_id", root)))
        val (_, f) = secsOf(tracer.span("graft.index:buildBlocks")(
          IndexCatalog.buildBlocks(spark, root, BlockSize)))
        sample("append_s", a + f); sample("index.append_s", a); sample("index.fold_s", f)
      }
    }(_ => None)
    live ++= (batchBase(b) until batchBase(b) + w.batch)
    val ids = Seq.fill(Removes)(live.iterator.drop(rnd.nextInt(live.size)).next()).distinct
    op("remove") {
      tracer.span("op:remove") {
        val (_, r) = secsOf(tracer.span("graft.index:removeDocuments")(
          IndexCatalog.removeDocuments(spark, root, ids)))
        sample("index.remove_s", r)
      }
    }(_ => None)
    live --= ids; removed ++= ids
    val (s, o) = secsOf(open())
    s.foreach { x => served = x; sample("index.open_s", o) }
  }

  /** Vacuum, re-fold the block table it leaves stale, and re-open. */
  private def vacuum(): Unit = {
    op("vacuum") {
      tracer.span("op:vacuum") {
        val (_, v) = secsOf(tracer.span("graft.index:vacuum")(IndexCatalog.vacuum(spark, root)))
        val (_, f) = secsOf(tracer.span("graft.index:buildBlocks")(
          IndexCatalog.buildBlocks(spark, root, BlockSize)))
        sample("vacuum_s", v + f); sample("index.vacuum_s", v)
      }
    }(_ => None)
    open().foreach(served = _)
  }

  /** The top-k of the served index equals that of a fresh build over the
    * live corpus.
    */
  private def freshCheck(): Unit = {
    val all = (0 until batches).foldLeft(corpus)((df, b) => df.unionByName(batchDf(b)))
    val gone = spark.createDataFrame(removed.toSeq.map(Tuple1(_))).toDF("doc_id")
    val idx = IndexCatalog.build(all.join(gone, Seq("doc_id"), "left_anti"), "doc_id",
      Seq("content", "path"), s"$tmp/fresh", Buckets)
    for ((shape, q) <- nextCycle())
      op(s"fresh '$q'")(topK(served, "bm25", shape, q)) { got =>
        val filter = if (shape == "and") Some(QueryEngine.conjunctiveFilter(idx, q)) else None
        Checks.sameTopK(QueryEngine.query(idx, q, BM25(), limit = K, docFilter = filter)
          .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1))), got)
      }
  }

  /** Block-max pruning counters of the first cycle of timed queries,
    * outside any timing.
    */
  private def pruning(): Unit = {
    val stats = seen.toSeq.take(5).map(q => BlockMaxTopK.pruningStats(served.idx, served.blocks, q,
      BM25(), k = K, blockSize = served.blockSize, rangesPerGroup = served.rangesPerGroup))
    facts("query.wand.ranges") = stats.flatten.map(_._1).sum
    facts("query.wand.survivors") = stats.flatten.map(_._2).sum
    facts("query.wand.fallbacks") = stats.count(_.isEmpty)
    facts("query.wand.prepared") = stats.size
  }

  /** Set up; then query cycles until `seconds` have passed and at least
    * [[MinCycles]] ran, with a mutation round before every
    * [[CyclesPerRound]] of them when the workload mutates (before every one
    * in a traced run, which already runs each query twice). A traced run
    * goes on to the paths the timed loop may not reach: a mutation round, a
    * vacuum, and a fresh build of the live corpus to compare against.
    */
  def run(): Map[String, Any] = {
    val gc0 = Tracer.gcMillis()
    sample("setup_s", setup())
    recordLayout()
    live ++= corpus.select("doc_id").collect().map(_.getLong(0))
    firstBatchId = live.max + 1
    // a traced run compares traced with untraced queries, so warms the
    // plans first: code generation would otherwise land on either side
    if (traced) queryCycle(timed = false)
    val perRound = if (w.mutating && !traced) CyclesPerRound else 1
    // a slow host still gets warm queries into an untraced run's medians
    val minCycles = if (traced) 1 else MinCycles
    var cycles = 0
    val t0 = System.nanoTime()
    while (((System.nanoTime() - t0) / 1e9 < seconds || cycles < minCycles) &&
        !(w.mutating && batches == w.batches)) {
      if (w.mutating) mutationRound()
      for (_ <- 1 to perRound) queryCycle(timed = true)
      cycles += perRound
    }
    if (traced) {
      pruning()
      if (batches == 0) mutationRound()
      vacuum()
      tracer.untraced(freshCheck())
    }
    facts("spark.gc_s") = (Tracer.gcMillis() - gc0) / 1e3
    facts("spark.cache_mb") = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1e6
    Map(
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures,
      "samples" -> samples, "facts" -> facts, "spans" -> tracer.export(),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))
  }
}
