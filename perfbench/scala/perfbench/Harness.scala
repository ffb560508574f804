package perfbench

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

import graft.functions.JsonRows
import graft.operators.{Preview, Regression, SortedDelays}
import graft.server.HttpShell
import graft.sources.DataLake

/** JVM side of the benchmark. The Python runner (run.py) launches it in
  * one of three modes and talks to it through stdout lines that start
  * with "PB ":
  *
  *   serve <lakeDir> <cores>
  *       SparkSession + graft.server.HttpShell on an ephemeral port, then
  *       commands on stdin: `gc`, `replay <seqFile> <outPrefix> <0|1>`,
  *       `quit`.
  *   catalog <dataDir> <cores> <planFile> <outPrefix>
  *       runs the planned catalog passes in process and exits.
  *   prepare <dataDir> <cores> <planFile> <outDir>
  *       writes each planned query's result as parquet plus its row digest
  *       and oracle SQL, for the one-time DuckDB verification.
  *   digest <0|1>
  *       prints the digest (see `digest`, 1 = ordered) of the rows on
  *       stdin, one per line, fields separated by tabs; for tests.
  */
object Harness {

  private def say(msg: String): Unit = { println(s"PB $msg"); Console.flush() }

  def session(cores: Int): SparkSession =
    graft.SparkEngine.session(s"local[$cores]", cores)

  /** Heap in use after full collections, in MB. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Digest of a result: row count plus the 64-bit sum of a hash of each
    * row's text form. With `ordered` each row is hashed together with its
    * position, so the same rows in another order give another digest;
    * without it the digest does not depend on the order.
    */
  def digest(rows: Array[Row], ordered: Boolean): String = {
    var sum = 0L
    rows.iterator.zipWithIndex.foreach { case (r, i) =>
      val s = if (ordered) s"$i\u0000$r" else r.toString
      sum += (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) |
        (MurmurHash3.stringHash(s, 0x7a11).toLong & 0xffffffffL)
    }
    f"${rows.length}%d:$sum%016x"
  }

  def jsonStr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').result()
  }

  def errText(e: Throwable): String = jsonStr(s"${e.getClass.getSimpleName}: ${e.getMessage}")

  def main(args: Array[String]): Unit = {
    val code =
      try {
        args.headOption match {
          case Some("serve") => serve(args(1), args(2).toInt); 0
          case Some("catalog") => Catalog.run(args(1), args(2).toInt, args(3), args(4)); 0
          case Some("prepare") => Catalog.prepare(args(1), args(2).toInt, args(3), args(4)); 0
          case Some("digest") =>
            val rows = scala.io.Source.stdin.getLines().map(l => Row.fromSeq(l.split("\t").toSeq)).toArray
            println(digest(rows, args(1) == "1")); 0
          case _ => System.err.println("usage: Harness serve|catalog|prepare|digest ..."); 2
        }
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    System.exit(code)
  }

  private def serve(lakeDir: String, cores: Int): Unit = {
    val spark = session(cores)
    say("session_up")
    val shell = new HttpShell(spark, lakeDir, 0)
    say(s"port ${shell.start()}")
    val in = new BufferedReader(new InputStreamReader(System.in, StandardCharsets.UTF_8))
    var line = in.readLine()
    while (line != null && line != "quit") {
      line.split(" ").toList match {
        case List("gc") => say(f"heap ${retainedHeapMb()}%.3f")
        case List("replay", seq, out, traced) =>
          Replay.run(spark, lakeDir, seq, out, traced == "1")
          say("replayed")
        case other => say(s"error unknown command $other")
      }
      line = in.readLine()
    }
    shell.stop()
    spark.stop()
  }
}

/** In-process replay of an HTTP request sequence through the same public
  * calls the HTTP handlers make. Untraced, each request is exactly the
  * handler's composition; traced, the composition is split into one span
  * per layer call (load, operator build, planning, execution, JSON).
  *
  * Sequence lines (tab-separated):
  *   preview <id> <limit> | delays <id> <Asc|Desc> <limit> |
  *   export <id> <Asc|Desc> | regression <id> <x> <y> | publish <src> <dst>
  */
object Replay {

  def run(spark: SparkSession, lakeDir: String, seqFile: String, outPrefix: String,
      traced: Boolean): Unit = {
    val sc = spark.sparkContext
    val lake = new DataLake(spark, lakeDir)
    val tracer = new Tracer(sc, traced)
    val listener = new LayerListener
    if (traced) sc.addSparkListener(listener)
    val out = new PrintWriter(Files.newBufferedWriter(Paths.get(s"$outPrefix.results.jsonl")))
    val lines = Files.readAllLines(Paths.get(seqFile)).asScala.filter(_.nonEmpty)
    try {
      lines.zipWithIndex.foreach { case (line, i) =>
        val f = line.split("\t")
        if (f(0) == "publish") publish(Paths.get(lakeDir), f(1), f(2))
        else {
          val t0 = System.nanoTime()
          val res =
            try Right(tracer.span("request", i)(request(lake, tracer, f, i)))
            catch { case scala.util.control.NonFatal(e) => Left(e) }
          val ms = (System.nanoTime() - t0) / 1e6
          val body = res.fold(e => s""""error":${Harness.errText(e)}""", b => s""""body":$b""")
          out.println(s"""{"i":$i,"op":"${f(0)}","ms":$ms,$body}""")
        }
      }
    } finally out.close()
    if (traced) {
      org.apache.spark.perfbench.BusDrain(sc)
      sc.removeSparkListener(listener)
      Totals.write(s"$outPrefix.totals.jsonl", listener.snapshot())
      val w = new PrintWriter(Files.newBufferedWriter(Paths.get(s"$outPrefix.spans.jsonl")))
      try tracer.toJsonLines.foreach(w.println) finally w.close()
    }
  }

  /** Atomic publish of a prepared dataset version: copy next to the
    * target, then rename over it.
    */
  def publish(dir: java.nio.file.Path, src: String, dst: String): Unit = {
    val tmp = dir.resolve(s".$dst.tmp")
    Files.copy(dir.resolve(src), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, dir.resolve(dst), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def sorting(s: String) = if (s == "Desc") SortedDelays.Desc else SortedDelays.Asc

  private def request(lake: DataLake, t: Tracer, f: Array[String], req: Int): String = {
    val id = f(1)
    f(0) match {
      case "regression" =>
        val df = t.span("sources.load", req)(lake.load(id))
        val r = t.span("operators.regression", req)(Regression.run(df, f(2), f(3)))
        s"""{"slope":${r.slope},"intercept":${r.intercept},"r2":${r.r2.map(_.toString).getOrElse("null")}}"""
      case op if !t.enabled =>
        // Exactly the HttpShell handler compositions.
        op match {
          case "preview" => JsonRows.toJson(Preview.run(lake.load(id), Some(f(2).toInt)))
          case "delays" =>
            JsonRows.jsonRowIterator(SortedDelays.run(lake.load(id), Some(sorting(f(2))), Some(f(3).toInt)))
              .mkString("[", ",", "]")
          case "export" =>
            JsonRows.jsonRowIterator(SortedDelays.run(lake.load(id), Some(sorting(f(2))), None))
              .mkString("[", ",", "]")
        }
      case op =>
        val df = t.span("sources.load", req)(lake.load(id))
        val prepared = t.span("operators.build", req) {
          JsonRows.stringifyNonPrimitives(op match {
            case "preview" => Preview.run(df, Some(f(2).toInt))
            case "delays" => SortedDelays.run(df, Some(sorting(f(2))), Some(f(3).toInt))
            case "export" => SortedDelays.run(df, Some(sorting(f(2))), None)
          })
        }
        t.span("plans.plan", req)(prepared.queryExecution.executedPlan)
        val names = prepared.columns
        if (op != "preview") {
          // Delays, with or without a limit, streams (HttpShell.delays):
          // toLocalIterator interleaves execution (per-partition jobs) with
          // serialization: the JSON time is summed per row and recorded as
          // a child of the execution span.
          val sb = new StringBuilder("[")
          t.span("engine.exec", req) {
            val start = System.nanoTime()
            var jsonNs = 0L
            val it = prepared.toLocalIterator()
            while (it.hasNext) {
              val row = it.next()
              val a = System.nanoTime()
              if (sb.length > 1) sb.append(',')
              sb.append(JsonRows.rowToJson(row, names))
              jsonNs += System.nanoTime() - a
            }
            t.record("functions.json", req, start, jsonNs)
          }
          sb.append(']').result()
        } else {
          val rows = t.span("engine.exec", req)(prepared.collect())
          t.span("functions.json", req)(rows.map(JsonRows.rowToJson(_, names)).mkString("[", ",", "]"))
        }
    }
  }
}

object Totals {
  def write(path: String, totals: Map[(Int, String), TaskTotals]): Unit = {
    val w = new PrintWriter(Files.newBufferedWriter(Paths.get(path)))
    try totals.foreach { case ((req, span), t) =>
      w.println(s"""{"req":$req,"span":${Harness.jsonStr(span)},"jobs":${t.jobs},"tasks":${t.tasks},""" +
        s""""cpu_ns":${t.cpuNs},"run_ms":${t.runMs},"bytes_read":${t.bytesRead},""" +
        s""""records_read":${t.recordsRead},"shuffle_write":${t.shuffleWrite},"spill":${t.spill}}""")
    } finally w.close()
  }
}

/** Catalog mix: a fixed list of `graft.SparkEntry.queries` in process.
  *
  * Plan file lines: `seconds <s>`, `warm_passes <n>`, `min_passes <n>`,
  * `trace <0|1>`, `order_seed <n>`, one `q <name>` per query, and one
  * `ordered <name>` per query whose row order is part of its result.
  * Every pass runs the queries in its own order, shuffled from
  * `order_seed` and the pass number, so that no query's time depends on
  * one fixed predecessor. The first pass collects every result and
  * records its digest (the caller compares it with the verified one);
  * `warm_passes` unmeasured passes follow; measured passes then execute
  * each query and drop its rows until `seconds` have passed, at least
  * `min_passes` times. With trace 1, `min_passes` rounds of one untraced
  * and one traced pass follow the warm passes instead.
  */
object Catalog {

  private def readPlan(planFile: String): Seq[List[String]] =
    Files.readAllLines(Paths.get(planFile)).asScala.map(_.split(" ").toList).toSeq

  private def names(plan: Seq[List[String]], key: String): Seq[String] =
    plan.collect { case `key` :: name :: Nil => name }

  /** Executes the query's own QueryExecution and drops its rows, as the
    * `noop` sink does. A `noop` write would wrap the plan in a write
    * command that is optimized and planned again; this way the plan the
    * traced pass times is the plan that runs.
    */
  def drain(df: DataFrame): String = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("drain"))(qe.toRdd.foreach(_ => ()))
    ""
  }

  def prepare(dataDir: String, cores: Int, planFile: String, outDir: String): Unit = {
    val plan = readPlan(planFile)
    val ordered = names(plan, "ordered").toSet
    val spark = Harness.session(cores)
    val oracle = graft.SparkEntry.oracleSql
    val w = new PrintWriter(Files.newBufferedWriter(Paths.get(outDir, "prepared.jsonl")))
    try names(plan, "q").foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, dataDir)
      df.write.mode("overwrite").parquet(Paths.get(outDir, q).toString)
      val d = Harness.digest(graft.SparkEntry.queries(q)(spark, dataDir).collect(), ordered(q))
      val sql = oracle.get(q).map(Harness.jsonStr).getOrElse("null")
      w.println(s"""{"q":"$q","digest":"$d","oracle":$sql}""")
    } finally w.close()
    spark.stop()
  }

  def run(dataDir: String, cores: Int, planFile: String, outPrefix: String): Unit = {
    val plan = readPlan(planFile)
    def setting(k: String) = plan.collectFirst { case `k` :: v :: Nil => v }.get
    val seconds = setting("seconds").toDouble
    val warmPasses = setting("warm_passes").toInt
    val minPasses = setting("min_passes").toInt
    val traced = setting("trace") == "1"
    val orderSeed = setting("order_seed").toLong
    val order = names(plan, "q")
    val ordered = names(plan, "ordered").toSet

    val t0 = System.nanoTime()
    val spark = Harness.session(cores)
    println(f"PB session_up ${(System.nanoTime() - t0) / 1e9}%.6f"); Console.flush()
    val sc = spark.sparkContext
    val queries = graft.SparkEntry.queries
    val out = new PrintWriter(Files.newBufferedWriter(Paths.get(s"$outPrefix.results.jsonl")))

    def timed(pass: Int, kind: String, q: String)(body: => String): Unit = {
      val a = System.nanoTime()
      val res =
        try Right(body) catch { case scala.util.control.NonFatal(e) => Left(e) }
      val ms = (System.nanoTime() - a) / 1e6
      val tail = res.fold(e => s""""error":${Harness.errText(e)}""", d => s""""digest":"$d"""")
      out.println(s"""{"pass":$pass,"kind":"$kind","q":"$q","ms":$ms,$tail}""")
      out.flush()
    }
    def passOrder(p: Int): Seq[String] =
      new scala.util.Random(orderSeed * 1000003L + p).shuffle(order)
    passOrder(0).foreach { q =>
      timed(0, "check", q)(Harness.digest(queries(q)(spark, dataDir).collect(), ordered(q)))
    }
    (1 to warmPasses).foreach { p =>
      passOrder(p).foreach { q => timed(p, "warm", q)(drain(queries(q)(spark, dataDir))) }
    }
    def measurePass(p: Int): Unit =
      passOrder(p).foreach { q => timed(p, "measure", q)(drain(queries(q)(spark, dataDir))) }
    var pass = warmPasses + 1
    if (!traced) {
      val measureStart = System.nanoTime()
      while (pass <= warmPasses + minPasses || (System.nanoTime() - measureStart) / 1e9 < seconds) {
        measurePass(pass)
        pass += 1
      }
    } else {
      // `min_passes` rounds of one untraced and one traced pass, so both
      // kinds see the same warm-up.
      val tracer = new Tracer(sc, true)
      val listener = new LayerListener
      sc.addSparkListener(listener)
      def tracedPass(p: Int): Unit =
        passOrder(p).foreach { q =>
          val i = order.indexOf(q)
          timed(p, "traced", q) {
            tracer.span("request", i) {
              val df = tracer.span("operators.build", i)(queries(q)(spark, dataDir))
              tracer.span("plans.plan", i)(df.queryExecution.executedPlan)
              tracer.span("engine.exec", i)(drain(df))
            }
          }
        }
      // Odd rounds run the traced pass first, so neither kind always runs second.
      (1 to minPasses).foreach { r =>
        val kinds = if (r % 2 == 1) Seq(measurePass _, tracedPass _) else Seq(tracedPass _, measurePass _)
        kinds.foreach { run => run(pass); pass += 1 }
      }
      org.apache.spark.perfbench.BusDrain(sc)
      sc.removeSparkListener(listener)
      Totals.write(s"$outPrefix.totals.jsonl", listener.snapshot())
      val w = new PrintWriter(Files.newBufferedWriter(Paths.get(s"$outPrefix.spans.jsonl")))
      try tracer.toJsonLines.foreach(w.println) finally w.close()
    }
    out.close()
    println(f"PB heap ${Harness.retainedHeapMb()}%.3f"); Console.flush()
    spark.stop()
  }
}
