package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkEntry
import Main.{Args, Outcome}

/** The `query_mix` workload: a fixed mix of `graft.SparkEntry.queries`
  * over the benchmark's own copy of the sf0.01 tables, one query at a
  * time from one client.
  *
  * Every query of the mix runs once untimed (warm-up, part of set-up),
  * then `Main.passes` passes over the mix are timed, in an order rotated
  * by the seed. Storage is reset,
  * untimed, before each timed query. Each timed query is built and then consumed by one
  * aggregate that reads every output column (row count plus an
  * order-insensitive sum of `xxhash64` over all columns); the result is
  * checked against `perfbench/expected/query_mix.tsv`. */
object QueryMix {

  /** The three groups, in the order the benchmark's notes list them. */
  val Light: Seq[String] = (1 to 30).map(i => f"q$i%02d") ++
    (114 to 118).map(i => s"q$i") ++ (161 to 167).map(i => s"q$i") ++
    (184 to 193).map(i => s"q$i")
  val Iterative: Seq[String] =
    Seq("q103", "q176", "q235", "q110", "q112", "q44", "q122", "q54", "q55",
      "q158")
  val CandidatePair: Seq[String] =
    Seq("q31", "q32", "q75", "q126", "q182", "q204", "q233")

  /** The mix keeps every fifth query of each group, from the first, so
    * the groups keep their proportions. */
  def sample(group: Seq[String]): Seq[String] =
    group.zipWithIndex.collect { case (q, i) if i % 5 == 0 => q }

  /** (full query name, tier) of the mix, in group order. */
  lazy val Mix: Seq[(String, String)] = {
    val byPrefix = SparkEntry.queries.keys.map(k => k.takeWhile(_ != '_') -> k)
      .toMap
    def resolve(qs: Seq[String], tier: String) = qs.map(q =>
      byPrefix.getOrElse(q, throw new IllegalStateException(
        s"no query $q in SparkEntry.queries")) -> tier)
    resolve(sample(Light), "light") ++ resolve(sample(Iterative), "iterative") ++
      resolve(sample(CandidatePair), "candidate_pair")
  }

  final case class Expected(rows: Long, fingerprint: String, stable: Boolean)

  def loadExpected(path: String): Map[String, Expected] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .drop(1) // header
      .map(_.split("\t"))
      .map(c => c(0) -> Expected(c(1).toLong, c(2), c(3) == "1"))
      .toMap

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Evaluate every output column: (row count, fingerprint). Map-typed
    * columns cannot be hashed and are fingerprinted through their JSON
    * text. */
  def consume(df: DataFrame): (Long, String) = {
    val r = consumer(df).head()
    (r.getLong(0), Option(r.get(1)).map(_.toString).getOrElse("null"))
  }

  private def consumer(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val hash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.select(count(lit(1)), sum(hash.cast("decimal(38,0)")))
  }

  /** Drop what earlier queries left in the storage layer (the cache and
    * every persisted, e.g. locally checkpointed, RDD, synchronously) and
    * collect the heap, so each timed query starts from the same state
    * whatever ran before it (graft.Bench does the same). */
  def resetStorage(spark: SparkSession): Unit = {
    spark.sqlContext.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def run(spark: SparkSession, a: Args): Outcome = {
    val queries = SparkEntry.queries
    val expected = loadExpected(a.expected)
    val rot = (a.seed % Mix.size).toInt
    val order = Mix.drop(rot) ++ Mix.take(rot)

    val warm0 = System.nanoTime()
    for ((name, _) <- order) {
      spark.sqlContext.clearCache()
      try consume(queries(name)(spark, a.data))
      catch { case scala.util.control.NonFatal(_) => () }
    }
    val warmS = (System.nanoTime() - warm0) / 1e9
    resetStorage(spark)

    val trace = new Trace
    val latencies = Seq.newBuilder[Double]
    val walls = Seq.newBuilder[Double]
    val cpus = Seq.newBuilder[Double]
    val failures = Seq.newBuilder[String]
    val untraced = scala.collection.mutable.Map[String, Double]()
    val build = scala.collection.mutable.Map[String, Double]()
    var firstTimedMs = 0L
    var resetS = 0.0

    /** One timed query: (latency s, build s, outcome). */
    def once(name: String): (Double, Double, Either[String, (Long, String)]) = {
      val t0 = System.nanoTime()
      try {
        val df = queries(name)(spark, a.data)
        val t1 = System.nanoTime()
        val r = consume(df)
        ((System.nanoTime() - t0) / 1e9, (t1 - t0) / 1e9, Right(r))
      } catch {
        case scala.util.control.NonFatal(e) =>
          ((System.nanoTime() - t0) / 1e9, 0.0,
            Left(e.toString.replace('\n', ' ').take(200)))
      }
    }

    def check(name: String, r: Either[String, (Long, String)]): Option[String] =
      (r, expected.get(name)) match {
        case (Left(err), _) => Some(s"$name: threw $err")
        case (_, None) => Some(s"$name: no expected result")
        case (Right((n, _)), Some(e)) if n != e.rows =>
          Some(s"$name: $n rows, expected ${e.rows}")
        case (Right((_, fp)), Some(e)) if e.stable && fp != e.fingerprint =>
          Some(s"$name: fingerprint $fp, expected ${e.fingerprint}")
        case _ => None
      }

    for (pass <- 0 until Main.passes(a)) {
      var passWall = 0.0
      var passCpu = 0.0
      for ((name, _) <- order) {
        val r0 = System.nanoTime()
        resetStorage(spark)
        resetS += (System.nanoTime() - r0) / 1e9
        if (firstTimedMs == 0L) firstTimedMs = System.currentTimeMillis()
        val c0 = Main.processCpuS()
        val (lat, _, r) = once(name)
        passCpu += Main.processCpuS() - c0
        passWall += lat
        latencies += lat
        if (pass == 0) untraced(name) = lat
        failures ++= check(name, r).toSeq
        if (a.trace && pass == 0) {
          // the same query again, traced, for the per-layer view
          resetStorage(spark)
          trace.attach(spark)
          val (tl, b, tr) = trace.span(spark, name)(once(name))
          trace.detach(spark)
          build(name) = b
          untraced(name + "#traced") = tl
          failures ++= check(name, tr).map(f => s"traced: $f")
        }
      }
      walls += passWall
      cpus += passCpu
    }

    val layers = if (!a.trace) Seq.empty else {
      val tier = Mix.toMap
      def spansOf(t: String) = order.map(_._1).filter(tier(_) == t).toSet
      def tracedS(names: Set[String]) =
        names.toSeq.map(n => untraced(n + "#traced")).sum
      def commonOf(names: Set[String]) = Layers.common(trace, names)
      val all = order.map(_._1).toSet
      val tracedTotal = tracedS(all)
      val untracedTotal = order.map(q => untraced(q._1)).sum
      Layers.complete(commonOf(all) ++ Map(
        "sparkentry.build_s" -> build.values.sum,
        "tier.light_s" -> tracedS(spansOf("light")),
        "tier.iterative_s" -> tracedS(spansOf("iterative")),
        "tier.iterative_jobs" ->
          commonOf(spansOf("iterative"))("scheduler.jobs"),
        "tier.candidate_pair_s" -> tracedS(spansOf("candidate_pair")),
        "tier.candidate_pair_shuffle_mb" ->
          commonOf(spansOf("candidate_pair"))("executor.shuffle_write_mb"),
        "trace.overhead_ratio" -> (tracedTotal / untracedTotal - 1)))
    }
    val passWalls = walls.result()
    Outcome(firstTimedMs, passWalls, cpus.result(), passWalls.map(_ => order.size),
      latencies.result(), order.size * (passWalls.size + (if (a.trace) 1 else 0)),
      failures.result(), layers,
      Json.Obj(Seq(
        "order" -> Json.Arr(order.map(q => Json.Str(q._1))),
        "warmup_s" -> Json.Num(warmS),
        "reset_s" -> Json.Num(resetS),
        "latency_by_query_s" -> Json.Obj(order.map(q =>
          q._1 -> Json.Num(untraced(q._1)))))))
  }

  /** Expected-file mode: run the mix twice in one session and print
    * `name rows fingerprint fingerprint_again tier` lines; the
    * generator script compares them across processes. */
  def expectedRows(spark: SparkSession, data: String): Seq[String] =
    Mix.map { case (name, tier) =>
      val r = (1 to 2).map { _ =>
        resetStorage(spark)
        consume(SparkEntry.queries(name)(spark, data))
      }
      Seq(name, r(0)._1, r(0)._2, r(1)._2, tier).mkString("\t")
    }

  /** Oracle mode: `name sql` with the query's DuckDB oracle SQL as a
    * JSON string. */
  def oracleRows: Seq[String] =
    Mix.map { case (name, _) =>
      name + "\t" + Json.quote(SparkEntry.oracleSql(name)) }

  /** Plan mode: `name nodes_count nodes_consume` — the optimized-plan
    * node counts of `Dataset.count()` and of the consuming aggregate. */
  def planRows(spark: SparkSession, data: String): Seq[String] =
    Mix.map { case (name, _) =>
      val df = SparkEntry.queries(name)(spark, data)
      def size(d: DataFrame) =
        d.queryExecution.optimizedPlan.collect { case p => p }.size
      Seq(name, size(df.groupBy().count()), size(consumer(df))).mkString("\t")
    }
}
