package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.Executors

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{GraftSession, SparkEntry}
import graft.io.Tables
import graft.ops.Layout
import graft.queries.Marketplace
import graft.queries.Marketplace.AdsSearchParams
import graft.streaming.CorpusIngest

/** The benchmark's JVM half. It drives the program through its public entry
  * points only, one caller thread in a closed loop, and writes one raw JSON
  * record (`raw.json` in the output directory) that `run.py` turns into
  * metrics: per-call phase times, pass edges, setup times, Layout counters,
  * GC and heap figures, streaming progress, ingest checks, and — in a
  * traced run — spans plus the Spark jobs and stages a listener saw.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <outDir> <cpus>
  */
object Main {

  val MarketplaceCalls: Seq[String] = Seq(
    "ads_search", "ads_count", "ads_search_filtered", "ads_search_newest",
    "ads_search_after", "my_ads", "ad_by_id", "categories", "favorites_list",
    "favorite_check", "trades", "admin_users", "admin_ads", "admin_ads_after",
    "admin_stats", "conversations_list", "messages", "upsert_seed",
    "cascade_delete", "patch_update", "current_state", "state_asof",
    "scd2_history", "props_extract", "props_schema", "conversation_pairs",
    "ads_pagination", "source_validation")

  /** The artifact-backed reads an ingest epoch refreshes. */
  val IngestReads: Seq[String] = Seq(
    "bm25_search", "knn_ivf", "copurchase_kcore", "bucketed_join")

  val SearchWords: Seq[String] = Seq(
    "widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear",
    "blue", "old", "red", "small", "new", "large", "hot", "cold")
  val Categories: Seq[String] = Seq("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM")
  val Sorts: Seq[String] = Seq("newest", "price_low", "price_high")
  /** Seeded search and count requests added to the registry calls. */
  val GridRequests = 8
  /** Fresh-instance set-ups per marketplace run; each takes well under a
    * second, while an ingest set-up builds every artifact and runs once.
    */
  val MarketplaceSetups = 3
  /** The pass number of untimed warm-up calls. */
  val Warmup: Int = -1

  /** One distinct request: its key, how to build its DataFrame over a data
    * dir, and what the oracle needs to re-derive it.
    */
  final case class Call(
      key: String, oracle: Map[String, Any], build: (SparkSession, String) => DataFrame)

  final case class Conf(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, out: String, cpus: Int)

  def main(argv: Array[String]): Unit = {
    val c = Conf(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      argv(4), argv(5), argv(6).toInt)
    val t0 = Clock.us()
    val spark = GraftSession.local(c.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val bench = new Bench(spark, c)
    bench.record("session_s", (Clock.us() - t0) / 1e6)
    // exit explicitly: a thread the program left running must not keep
    // the process alive
    try {
      try c.workload match {
        case "marketplace" => bench.marketplace()
        case "ingest"      => bench.ingest()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally {
        bench.writeRaw()
        spark.stop()
      }
    } catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }
    sys.exit(0)
  }

  /** Seeded draw of `n` distinct grid requests; search and count requests
    * alternate.
    */
  def gridCalls(seed: Long, n: Int): Seq[Call] = {
    val rnd = new Random(seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Call]
    var i = 0
    while (seen.size < n) {
      val search = if (rnd.nextInt(4) == 0) None else Some(pick(SearchWords))
      val category = if (rnd.nextInt(2) == 0) None else Some(pick(Categories))
      val lo = 900.0 + 10 * rnd.nextInt(9)
      val hi = math.min(999.9, lo + 10 * (1 + rnd.nextInt(5)))
      val p = AdsSearchParams(search = search, category = category,
        minPrice = Some(lo), maxPrice = Some(hi), sortBy = pick(Sorts),
        page = 1 + rnd.nextInt(5), limit = 20)
      val count = i % 2 == 1
      val kind = if (count) "ads_count" else "ads_search"
      val key = f"$kind[${search.getOrElse("-")},${category.getOrElse("-")}," +
        f"$lo%.1f-$hi%.1f,${if (count) "-" else p.sortBy},${if (count) 0 else p.page}]"
      if (!seen.contains(key)) {
        val oracle = Map[String, Any]("kind" -> kind, "search" -> search,
          "category" -> category, "min_price" -> lo, "max_price" -> hi,
          "sort" -> p.sortBy, "page" -> p.page, "limit" -> p.limit)
        seen(key) = Call(key, oracle, (s, d) =>
          if (count) Marketplace.adsCount(s, d, p) else Marketplace.adsSearch(s, d, p))
        i += 1
      }
    }
    seen.values.toSeq
  }

  def registryCall(name: String): Call =
    Call(name, Map("kind" -> "registry", "name" -> name), SparkEntry.queries(name))
}

final class Bench(spark: SparkSession, c: Main.Conf) {
  import Main._

  private val raw = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private val calls = ArrayBuffer.empty[Map[String, Any]]
  private val passes = ArrayBuffer.empty[Map[String, Any]]
  private val checks = ArrayBuffer.empty[Map[String, Any]]
  private val manifest = ArrayBuffer.empty[Map[String, Any]]
  private val setups = ArrayBuffer.empty[Double]
  private val spans = new Spans
  private val recorder = new JobRecorder
  private val runSpan = spans.open()
  private val runStart = Clock.us()
  private var liveMb = 0.0

  def record(k: String, v: Any): Unit = raw(k) = v

  // ---------------------------------------------------------------- timing

  /** Times one read call as its caller sees it: the query function returns
    * a DataFrame (construct), the physical plan is forced (plan), then the
    * whole result is written to the `noop` sink (execute).
    */
  private def timeRead(pass: Int, passSpan: Int, call: Call, data: String): Unit = {
    val callId = spans.open()
    val start = Clock.us()
    var at = start
    var error: String = null
    val times = ArrayBuffer.empty[Double]
    def phase[T](name: String)(body: => T): Option[T] = {
      val id = spans.open()
      val from = at
      val r = if (error != null) None else try Some(body) catch {
        case e: Throwable => error = s"$name: ${e.getClass.getName}: ${e.getMessage}"; None
      }
      at = spans.close(id, callId, name, call.key, from)
      times += (at - from) / 1e6
      r
    }
    val df = phase("construct")(call.build(spark, data))
    phase("plan")(df.foreach(_.queryExecution.executedPlan))
    phase("execute")(df.foreach(_.write.format("noop").mode("overwrite").save()))
    val end = spans.close(callId, passSpan, "call", call.key, start)
    spark.catalog.clearCache()
    calls += Map("pass" -> pass, "key" -> call.key, "start_us" -> start,
      "total_s" -> (end - start) / 1e6, "construct_s" -> times(0),
      "plan_s" -> times(1), "execute_s" -> times(2),
      "ok" -> (error == null), "error" -> Option(error))
  }

  /** Times the epoch's commit as one call: from the shard's arrival until
    * every maintainer has processed everything available. Each
    * maintainer's wait is a phase of it, awaited in a fixed order.
    */
  private def timeCommit(pass: Int, passSpan: Int, streams: Seq[(String, StreamingQuery)],
      arrivedUs: Long): Unit = {
    val callId = spans.open()
    var at = arrivedUs
    val errors = streams.flatMap { case (key, q) =>
      val id = spans.open()
      val error = try { q.processAllAvailable(); None } catch {
        case e: Throwable => Some(s"$key: ${e.getClass.getName}: ${e.getMessage}")
      }
      at = spans.close(id, callId, "commit", key, at)
      error
    }
    val end = spans.close(callId, passSpan, "call", "commit", arrivedUs)
    calls += Map("pass" -> pass, "key" -> "commit", "start_us" -> arrivedUs,
      "total_s" -> (end - arrivedUs) / 1e6, "commit_s" -> (at - arrivedUs) / 1e6,
      "ok" -> errors.isEmpty, "error" -> errors.headOption)
  }

  /** Driver heap in use after forced, untimed collections; the pause
    * between them lets the context cleaner drop what the first one freed.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Runs whole passes within the timed window: another pass starts only
    * if a pass as long as the last one still ends inside it, so a run holds
    * at least one pass and its length stays near `seconds`. It also stops
    * when `more` says no input is left for another pass. A traced run attaches
    * the job listener on every other pass, and runs at least two, so the
    * untraced passes between them give the tracing overhead within the same
    * run. The host-load sentinel runs just before and just after the window.
    */
  private def timedPasses(more: Int => Boolean = _ => true)(body: (Int, Int) => Unit): Unit = {
    val sentinelBefore = sentinel()
    val windowStart = Clock.us()
    val minPasses = if (c.trace) 2 else 1
    var pass = 0
    var lastUs = 0L
    while (more(pass) &&
        (pass < minPasses || Clock.us() - windowStart + lastUs <= c.seconds * 1e6)) {
      val traced = c.trace && pass % 2 == 0
      if (traced) spark.sparkContext.addSparkListener(recorder)
      val b0 = Layout.buildCount.get; val r0 = Layout.refreshCount.get
      val n0 = Layout.buildNanos.get; val g0 = gcMs
      val passSpan = spans.open()
      val start = Clock.us()
      body(pass, passSpan)
      val end = spans.close(passSpan, runSpan, "pass", s"pass$pass", start)
      lastUs = end - start
      val g1 = gcMs
      if (traced) {
        org.apache.spark.PerfbenchBusDrain.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(recorder)
      }
      liveMb = math.max(liveMb, liveHeapMb())
      passes += Map("pass" -> pass, "traced" -> traced, "start_us" -> start,
        "end_us" -> end, "gc_s" -> (g1 - g0) / 1e3,
        "layout_builds" -> (Layout.buildCount.get - b0),
        "layout_refreshes" -> (Layout.refreshCount.get - r0),
        "layout_build_s" -> (Layout.buildNanos.get - n0) / 1e9)
      pass += 1
    }
    record("window_s", (Clock.us() - windowStart) / 1e6)
    record("sentinel_s", math.min(sentinelBefore, sentinel()))
  }

  /** Bench's fixed host-load sentinel: a pure-CPU job with no I/O. */
  private def sentinel(): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 64000000L, 1L, c.cpus).selectExpr("max(xxhash64(id))").collect()
    (System.nanoTime() - t0) / 1e9
  }

  // ----------------------------------------------------------- marketplace

  def marketplace(): Unit = {
    val all = MarketplaceCalls.map(registryCall) ++ gridCalls(c.seed, GridRequests)
    checkPass(all, c.data)
    val inst = (1 to MarketplaceSetups).map { k =>
      setup(k) { dir =>
        copyTree(Paths.get(c.data), Paths.get(dir))
        // source resolution: every table the surface reads, once
        Tables.all.foreach(t => Tables.table(spark, dir, t).schema)
        dir
      }
    }.last
    // the check pass writes parquet on `cpus` threads: one sequential pass
    // down the timed path warms that, untimed
    all.foreach(call => timeRead(Warmup, runSpan, call, inst))
    timedPasses() { (pass, passSpan) =>
      new Random(c.seed * 7919 + pass).shuffle(all).foreach(call =>
        timeRead(pass, passSpan, call, inst))
    }
  }

  /** `f` over `xs` on `threads` threads; results in the order of `xs`. */
  private def inParallel[A, B](threads: Int, xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.traverse(xs)(x => Future(f(x))), Duration.Inf)
    finally pool.shutdown()
  }

  /** Untimed pass over every distinct request: its full result is written
    * as parquet for the oracle check, and the JVM is warmed. Being untimed,
    * it runs `cpus` calls at a time.
    */
  private def checkPass(all: Seq[Call], data: String): Unit = {
    val t0 = Clock.us()
    val sql = SparkEntry.oracleSql
    manifest ++= inParallel(c.cpus, all.zipWithIndex) { case (call, i) =>
      resultEntry(call, i, data, sql)
    }
    spark.catalog.clearCache()
    record("check_pass_s", (Clock.us() - t0) / 1e6)
  }

  /** Writes `call`'s full result over `data` as parquet and returns its
    * manifest entry for the oracle check.
    */
  private def resultEntry(
      call: Call, i: Int, data: String, sql: Map[String, String]): Map[String, Any] = {
    val dir = s"${c.out}/results/r$i"
    val error = try {
      call.build(spark, data).coalesce(1).write.mode("overwrite").parquet(dir); None
    } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    call.oracle ++ Map("key" -> call.key, "result" -> dir, "data" -> data,
      "error" -> error, "sql" -> call.oracle.get("name").flatMap(n => sql.get(n.toString)))
  }

  /** One timed set-up of a fresh instance directory; returns the dir. */
  private def setup[T](k: Int)(prepare: String => T): T = {
    val t0 = Clock.us()
    val r = prepare(s"${c.out}/inst$k")
    setups += (Clock.us() - t0) / 1e6
    r
  }

  // ---------------------------------------------------------------- ingest

  private final class Live(val dir: String) {
    val idx = s"$dir/_idx"
    val watch = s"$dir/_watch"
    var streams: Seq[(String, StreamingQuery)] = Nil
    def stop(): Unit = streams.foreach { case (_, q) => try q.stop() catch { case _: Throwable => () } }
  }

  private def shardDirs: Seq[String] = {
    val root = Paths.get(c.data, "shards")
    Files.list(root).iterator.asScala.map(_.toString).toSeq.sorted
  }

  /** Copies a file in under a hidden name, then renames it into place, so
    * neither a stream nor a table listing sees a partial file.
    */
  private def deliver(src: String, dstDir: String, name: String): Unit = {
    val d = Paths.get(dstDir)
    Files.createDirectories(d)
    val tmp = d.resolve("." + name)
    Files.copy(Paths.get(src), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, d.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Starts the four maintainers, reading their input schemas from `shard`,
    * and waits until they have processed what is already delivered.
    */
  private def startStreams(live: Live, shard: String): Unit = {
    // each delivery is one directory under the watched root, so a glob
    // over the root sees all of a delivery's files in one listing
    def watched(table: String, sub: String): DataFrame = {
      val schema = spark.read.parquet(s"$shard/$table.parquet").schema
      spark.readStream.schema(schema).parquet(s"${live.watch}/$sub/*")
    }
    val seeds = Tables.embeddings(spark, live.dir).orderBy(col("vec_id").asc).limit(16)
      .select("vec_id", "embedding")
    val ck = s"${live.dir}/_ckpt"
    live.streams = Seq(
      "postings" -> CorpusIngest.ingestPostings(
        watched("documents", "docs").select("doc_id", "text"),
        s"${live.idx}/postings", s"$ck/postings"),
      "vectors" -> CorpusIngest.ingestVectors(
        watched("embeddings", "vecs"), seeds, s"${live.idx}/vectors", s"$ck/vectors"),
      "near_dedup" -> CorpusIngest.ingestNearDedup(
        watched("documents", "docs").select("doc_id", "text"),
        s"${live.idx}/near", s"${live.idx}/near_report", s"$ck/near"),
      "edges" -> CorpusIngest.ingestEdges(
        watched("lineitem", "lines"), s"${live.idx}/edges", s"$ck/edges"))
    live.streams.foreach(_._2.processAllAvailable())
  }

  /** One ingest instance: copies the base tables, adds the first held-out
    * shard, builds the artifacts of the reads (each read once, all at the
    * same time: they are independent artifact families), and starts the
    * four maintainers over watched directories holding that shard, so they
    * have indexed it when set-up ends.
    */
  private def prepareIngest(dir: String, reads: Seq[Call], first: String): Live = {
    copyTree(Paths.get(c.data), Paths.get(dir), skip = Set("shards"))
    val live = new Live(dir)
    deliverTables(live, first, "shard-first.parquet")
    inParallel(reads.size, reads)(r =>
      r.build(spark, dir).write.format("noop").mode("overwrite").save())
    deliverWatched(live, "first", first)
    startStreams(live, first)
    live
  }

  private def deliverTables(live: Live, shard: String, name: String): Unit =
    Seq("documents", "embeddings", "orders", "lineitem").foreach(t =>
      deliver(s"$shard/$t.parquet", s"${live.dir}/$t.parquet", name))

  /** One delivery to the watched directories: the given shards' files,
    * in a directory renamed into place whole.
    */
  private def deliverWatched(live: Live, name: String, shards: String*): Unit =
    Seq("documents" -> "docs", "embeddings" -> "vecs", "lineitem" -> "lines").foreach {
      case (t, w) =>
        val tmp = Paths.get(live.watch, w, "." + name)
        Files.createDirectories(tmp)
        shards.zipWithIndex.foreach { case (sd, i) =>
          Files.copy(Paths.get(s"$sd/$t.parquet"), tmp.resolve(s"part-$i.parquet"))
        }
        Files.move(tmp, tmp.resolveSibling(name), StandardCopyOption.ATOMIC_MOVE)
    }

  def ingest(): Unit = {
    val reads = IngestReads.map(registryCall)
    val shards = shardDirs
    val live = setup(1)(dir => prepareIngest(dir, reads, shards.head))
    /** Epoch `k` appends shard `k` to the tables and the watched
      * directories; at-least-once delivery sends shard `k - 1` a second
      * time beside it.
      */
    def epoch(k: Int, pass: Int, parent: Int): Unit = {
      deliverTables(live, shards(k), s"shard-$k.parquet")
      val arrived = Clock.us()
      deliverWatched(live, s"epoch-$k", shards(k), shards(k - 1))
      timeCommit(pass, parent, live.streams, arrived)
      reads.foreach(r => timeRead(pass, parent, r, live.dir))
    }
    var last = 1
    try {
      // the first epoch takes every refresh path cold: it warms them, untimed
      epoch(last, Warmup, runSpan)
      val lastBatch = live.streams.map { case (k, q) =>
        k -> Option(q.lastProgress).map(_.batchId).getOrElse(-1L) }.toMap
      timedPasses(pass => pass + 2 < shards.size) { (pass, passSpan) =>
        last = pass + 2
        epoch(last, pass, passSpan)
      }
      record("epochs", last - 1)
      streamingProgress(live, lastBatch)
    } finally live.stop()
    record("shards_indexed", last + 1)
    ingestChecks(live, reads, shards.take(last + 1))
  }

  private def streamingProgress(live: Live, after: Map[String, Long]): Unit = {
    val ps = live.streams.flatMap { case (k, q) =>
      q.recentProgress.toSeq.filter(p => p.batchId > after(k) && p.numInputRows > 0)
        .map(p => Map("stream" -> k, "batch_id" -> p.batchId,
          "rows_in" -> p.numInputRows,
          "batch_s" -> Option(p.durationMs.get("triggerExecution"))
            .map(_.longValue / 1e3).getOrElse(0.0)))
    }
    record("stream_batches", ps)
  }

  /** After the timed epochs: each refreshed read's full result goes to the
    * oracle check over the final tables, and each streamed index must hold
    * every ingested key exactly once.
    */
  private def ingestChecks(live: Live, reads: Seq[Call], used: Seq[String]): Unit = {
    val sql = SparkEntry.oracleSql
    manifest ++= reads.zipWithIndex.map { case (r, i) => resultEntry(r, i, live.dir, sql) }
    spark.catalog.clearCache()
    def keys(df: DataFrame, cols: Seq[String]): Seq[List[Any]] =
      df.select(cols.map(col): _*).collect().map(_.toSeq.toList).toSeq
    def ingested(t: String, cols: String*): Set[List[Any]] =
      keys(spark.read.parquet(used.map(s => s"$s/$t.parquet"): _*), cols).toSet
    var replay = 0L
    var rows = 0L
    /** No row of `unique` columns may repeat (a repeat is a replayed row);
      * the distinct `cover` keys (a prefix of `unique`) must equal the
      * ingested ones, or with `subset` only lie among them.
      */
    def index(name: String, df: => DataFrame, unique: Seq[String],
        cover: Int, expected: Set[List[Any]], subset: Boolean = false): Unit = {
      val detail = try {
        val got = keys(df, unique)
        val dup = got.size - got.distinct.size
        val have = got.map(_.take(cover)).toSet
        val missing = if (subset) 0 else (expected -- have).size
        val extra = (have -- expected).size
        replay += dup
        rows += got.size
        if (dup == 0 && missing == 0 && extra == 0) ""
        else s"rows=${got.size} repeated=$dup missing=$missing unexpected=$extra"
      } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}" }
      checks += Map("name" -> s"index.$name", "keys" -> Seq("commit"),
        "ok" -> detail.isEmpty, "detail" -> detail)
    }
    val docs = ingested("documents", "doc_id")
    index("postings", spark.read.parquet(s"${live.idx}/postings"),
      Seq("doc_id", "tok"), 1, docs)
    index("vectors", spark.read.parquet(s"${live.idx}/vectors"),
      Seq("vec_id"), 1, ingested("embeddings", "vec_id"))
    index("near_dedup", spark.read.parquet(s"${live.idx}/near"),
      Seq("doc_id"), 1, docs, subset = true)
    // the per-document report is at-least-once by contract: coverage only
    index("near_report",
      spark.read.parquet(s"${live.idx}/near_report").select(col("new_doc_id")).distinct(),
      Seq("new_doc_id"), 1, docs)
    index("edge_members",
      spark.read.option("recursiveFileLookup", "true").parquet(s"${live.idx}/edges/members"),
      Seq("l_orderkey", "l_partkey"), 2, ingested("lineitem", "l_orderkey", "l_partkey"))
    record("replay_rows", replay)
    record("index_rows", rows)
  }

  // ----------------------------------------------------------------- files

  private def copyTree(src: Path, dst: Path, skip: Set[String] = Set.empty): Unit = {
    val walk = Files.walk(src)
    try walk.iterator.asScala.foreach { p =>
      val rel = src.relativize(p)
      if (rel.getNameCount == 0 || !skip.contains(rel.getName(0).toString)) {
        val t = dst.resolve(rel.toString)
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
    } finally walk.close()
  }

  def writeRaw(): Unit = {
    spans.close(runSpan, 0, "run", c.workload, runStart)
    record("jvm_uptime_s", ManagementFactory.getRuntimeMXBean.getUptime / 1e3)
    record("workload", c.workload)
    record("cpus", c.cpus)
    record("calls", calls.toSeq)
    record("passes", passes.toSeq)
    record("checks", checks.toSeq)
    record("manifest", manifest.toSeq)
    record("setups_s", setups.toSeq)
    record("driver_live_mb", liveMb)
    if (c.trace) {
      record("spans", spans.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs)))
      record("jobs", recorder.jobsJson)
      record("stages", recorder.stagesJson)
    }
    Files.writeString(Paths.get(c.out, "raw.json"), Json(raw.toMap))
    ()
  }
}
