package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.ops.Materialize

/** One benchmark run of graft's query registry, in one JVM.
  *
  * `--mode registry --out F` writes the registry's query names and the names
  * that have oracle SQL to `F`.
  *
  * `--mode run` (the default) runs the queries named by `--queries`:
  *  1. set-up, `--setups` times: a fresh corpus copy, a fresh session and
  *     one untimed pass (the copy is staging and is not timed);
  *  2. timed passes for about `--seconds`, each in an order drawn
  *     from `--seed`; construction (`fn(spark, dir)`) and the noop-sink
  *     action are timed apart. With `--trace 1` every other pass is traced
  *     by [[Tracer]], so traced and untraced passes see the same JIT and
  *     cache state; then the [[Kernels]] probe runs;
  *  3. one untimed pass that writes each result to parquet for the oracle
  *     compare done by perfbench/run.py.
  * Everything measured goes to `--out` as JSON; spans go to `--spans`.
  */
object Main {
  final case class Exec(query: String, pass: Int, constructS: Double, actionS: Double,
      error: String)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    a.getOrElse("mode", "run") match {
      case "registry" =>
        val names = Json.arr(SparkEntry.queries.keys.toSeq.sorted.map(Json.str))
        val oracle = Json.arr(SparkEntry.oracleSql.keys.toSeq.sorted.map(Json.str))
        Files.writeString(Paths.get(a("out")), Json.obj(Seq("queries" -> names, "oracle" -> oracle)))
      case "run" => new Run(a).run()
      case m => sys.error(s"unknown mode: $m")
    }
  }

  private def message(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}".take(400)

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private final class Run(a: Map[String, String]) {
    private val workload = a("workload")
    private val seconds = a("seconds").toDouble
    private val cpus = a("cpus").toInt
    private val queries = a("queries").split(",").toVector
    private val bench = Paths.get(a("bench"))
    private val work = Paths.get(a("work"))
    private val rng = new Random(a("seed").toLong)
    private var spark: SparkSession = _
    private var dir: String = _

    private def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .config(Materialize.DirConf, work.resolve("checkpoints").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    private def copyCorpus(k: Int): String = {
      val src = Paths.get(a("corpus"))
      val dst = bench.resolve(s"corpus-$k")
      Files.walk(src).iterator().asScala.foreach { p =>
        val q = dst.resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
      }
      dst.toString
    }

    private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

    /** One execution: construction, then the noop-sink action, each timed
      * and (when traced) spanned; transient checkpoints are released after
      * it. */
    private def execute(q: String, pass: Int, tracer: Option[Tracer]): Exec = {
      val sc = spark.sparkContext
      var construct = Double.NaN
      var action = Double.NaN
      var error = ""
      val qSpan = tracer.map(_.open("query", q))
      def phase[T](kind: String)(body: => T): T = {
        val span = tracer.map(t => t -> t.open(kind, q))
        val (group, desc) = span.fold((s"$workload/$q/$kind", "")) { case (t, s) => t.group(s) }
        sc.setJobGroup(group, desc)
        try body finally { span.foreach { case (t, s) => t.close(s) }; sc.clearJobGroup() }
      }
      try {
        val t0 = System.nanoTime()
        val df = phase("construct")(SparkEntry.queries(q)(spark, dir))
        construct = secs(t0)
        val t1 = System.nanoTime()
        phase("action")(noop(df))
        action = secs(t1)
      } catch { case NonFatal(e) => error = message(e) }
      finally {
        tracer.foreach(_.sampleStorage())
        Materialize.releaseTransients()
        for (t <- tracer; s <- qSpan) t.close(s)
      }
      Exec(q, pass, construct, action, error)
    }

    /** Whole passes, each in a fresh seeded order, about `window` seconds of
      * them: the first pass sets the count, `window` over its length
      * rounded, at least two (so a pass that ends just past the window's
      * edge does not flip the count between runs). With a tracer the count
      * is even, odd passes are traced and even ones not; returns the
      * untraced executions, the traced ones and the pass count. */
    private def passes(window: Double, tracer: Option[Tracer]): (Vector[Exec], Vector[Exec], Int) = {
      val plain, traced = ArrayBuffer.empty[Exec]
      val t0 = System.nanoTime()
      var n = 0
      var count = 1
      while (n < count) {
        val on = tracer.filter(_ => n % 2 == 1)
        on.foreach(_.resume())
        val span = on.map(_.open("pass", s"pass-$n"))
        for (q <- rng.shuffle(queries)) (if (on.isEmpty) plain else traced) += execute(q, n, on)
        for (t <- on; s <- span) t.close(s)
        on.foreach(_.pause())
        if (n == 0) {
          count = math.max(2, math.round(window / secs(t0)).toInt)
          if (tracer.nonEmpty) count += count % 2
        }
        n += 1
      }
      (plain.toVector, traced.toVector, n)
    }

    private def execsJson(es: Seq[Exec]): String = Json.arr(es.map(e => Json.obj(Seq(
      "query" -> Json.str(e.query), "pass" -> e.pass.toString,
      "construct_s" -> Json.num(e.constructS), "action_s" -> Json.num(e.actionS),
      "error" -> Json.str(e.error)))))

    def run(): Unit = {
      val fields = ArrayBuffer.empty[(String, String)]
      val unknown = queries.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"not in the registry: ${unknown.mkString(", ")}")

      val setupExecs = ArrayBuffer.empty[Exec]
      val setupS = (1 to a("setups").toInt).map { k =>
        if (spark != null) spark.stop()
        val copy = copyCorpus(k)
        val t0 = System.nanoTime()
        spark = session()
        dir = copy
        setupExecs ++= queries.map(execute(_, -k, None))
        val s = secs(t0)
        log(f"setup $k: $s%.1f s")
        s
      }
      fields += "setup_s" -> Json.arr(setupS.map(Json.num))
      fields += "setup_execs" -> execsJson(setupExecs.toSeq)

      val tracer = if (a("trace") == "1") Some(new Tracer(spark.sparkContext, workload)) else None
      tracer.foreach(_.install())
      val runSpan = tracer.map(_.open("run", workload))
      val t0 = System.nanoTime()
      val (execs, traced, n) = passes(seconds, tracer)
      for (t <- tracer; s <- runSpan) t.close(s)
      log(f"timed: $n passes in ${secs(t0)}%.1f s")
      fields += "execs" -> execsJson(execs)
      fields += "passes" -> n.toString
      tracer.foreach { t =>
        t.finish()
        val tn = n / 2
        val wall = traced.filter(_.error.isEmpty).map(e => e.constructS + e.actionS).sum
        fields += "traced_execs" -> execsJson(traced)
        fields += "traced_passes" -> tn.toString
        val t1 = System.nanoTime()
        val kernels = Kernels.probe(spark, dir, cpus)
        log(f"kernel probe: ${secs(t1)}%.1f s")
        fields += "layers" -> Json.nums(t.metrics(tn, cpus, wall) ++ kernels)
        Files.writeString(Paths.get(a("spans")), t.spansJson())
      }

      val t2 = System.nanoTime()
      val checkDir = bench.resolve("check")
      val checkErrors = queries.flatMap { q =>
        try {
          SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite")
            .parquet(checkDir.resolve(q).toString)
          None
        } catch { case NonFatal(e) => Some(q -> Json.str(message(e))) }
        finally Materialize.releaseTransients()
      }
      log(f"check pass: ${secs(t2)}%.1f s")
      fields += "check_errors" -> Json.obj(checkErrors)
      fields += "oracle_sql" -> Json.obj(queries.flatMap(q =>
        SparkEntry.oracleSql.get(q).map(sql => q -> Json.str(sql))))
      fields += "spark_version" -> Json.str(spark.version)
      fields += "jdk" -> Json.str(s"${sys.props("java.vm.name")} ${sys.props("java.version")}")
      spark.stop()
      Files.writeString(Paths.get(a("out")), Json.obj(fields))
    }
  }
}
