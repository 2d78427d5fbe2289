package perfbench

import java.sql.{Connection, DriverManager}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ingest.{ActivityPipeline, CatalogPipeline}
import graft.sources.{JdbcSink, PagedApiSource, Pagination}

/** `etl_refresh`: the paper's pipeline against an in-memory Derby
  * database, one refresh cycle after another.
  *
  * A cycle is a full load (`Pagination.fetchAll` of the course and
  * activity chains, the catalog fan-out's 13 relations appended through
  * `JdbcSink.append`, and the activity merge `ActivityPipeline.upsert`)
  * followed by the refresh stream: `PagedApiSource` pages, one page per
  * micro-batch and per transaction, new courses stored with
  * `JdbcSink.appendIfAbsent` and activity merged with `JdbcSink.upsertTx`.
  * One operation is one refresh page, timed from its first fetch attempt
  * to the end of its `foreachBatch` body (the commit). Each cycle writes to
  * a database and checkpoint of its own, named after the process.
  */
final class EtlWorkload(smoke: Boolean) extends Workload {
  import EtlWorkload._

  val sizes: EtlSource.Sizes = if (smoke) SmokeSizes else EtlSource.Sizes(300, 50, 2000, 200, 8, 10, 60)
  /** Nominal cycle time at 4 cores, which sets the number of cycles. */
  val cycleSeconds = 15.0
  private var sources: Seq[EtlSource] = Nil

  def cycles(seconds: Double): Int =
    if (smoke) 1 else math.max(1, math.round(seconds / cycleSeconds).toInt)

  def meta: Map[String, Any] = Map("generator" -> sizes.toMap,
    "cycles" -> sources.size, "source_records_per_cycle" -> sources.headOption.map(_.sourceRecords))

  def setup(spark: SparkSession, a: Main.Args): Unit = {
    Class.forName(Driver)
    sources = (0 until cycles(a.seconds)).map(c => new EtlSource(a.seed, c, sizes))
  }

  /** One smoke-size cycle against a throwaway database. */
  def warmUp(spark: SparkSession, a: Main.Args): Unit = {
    val url = s"jdbc:derby:memory:perfbench_${ProcessHandle.current().pid()}_warm"
    createActivityTable(url)
    val off = new Trace(false)
    new Cycle(off.newSession(spark), new EtlSource(a.seed, -1, SmokeSizes), s"$url;create=true",
      -1, off, s"etl_refresh-${a.seed}-warm").run().error.foreach(e => sys.error(s"warm-up: $e"))
    dropDatabase(url)
  }

  def run(spark: SparkSession, a: Main.Args, trace: Trace): RunResult = {
    val pid = ProcessHandle.current().pid()
    val results = sources.zipWithIndex.map { case (src, c) =>
      val url = s"jdbc:derby:memory:perfbench_${pid}_$c"
      createActivityTable(url)
      val cycle = new Cycle(trace.newSession(spark), src, s"$url;create=true", c, trace,
        s"etl_refresh-${a.seed}-$c")
      val out = cycle.run()
      val problems = out.error.toSeq ++ check(spark.newSession(), url, src, idempotence = c == sources.size - 1)
      dropDatabase(url)
      (cycle, out, problems)
    }
    val pages = results.flatMap(_._2.pageLatencies)
    val attempted = results.map(r => r._2.pageLatencies.size + 1).sum
    val failed = results.map { case (_, o, p) =>
      if (p.nonEmpty) o.pageLatencies.size + 1 else 0 }.sum
    val walls = results.map(_._2.wallSeconds)
    val (tailPct, tail) = Stats.tail(pages)
    val counters = results.map(_._1.counters).reduce(_ |+| _).withDefaultValue(0.0)
    trace.drain()
    val writeS = trace.spansNamed("sources.jdbc_sink.write").map(_.seconds).sum
    val bodyS = results.flatMap(_._2.bodySeconds).sum
    val triggerS = trace.streamTriggers.map(_._3).sum
    RunResult(
      attempted = attempted, failed = math.min(failed, attempted),
      problems = results.flatMap(_._3),
      endToEnd = Map(
        "wall_s" -> Stats.median(walls),
        "op_p50_s" -> Stats.median(pages),
        "op_tail_s" -> tail,
        "records_per_s" -> Stats.median(results.map(r => r._2.records / r._2.wallSeconds))),
      notes = Map("cycles" -> results.size, "ops" -> attempted,
        "op_tail_percentile" -> tailPct, "op_samples" -> pages.size,
        "sleeps" -> counters("sleeps"), "slept_s" -> counters("slept_s")),
      layers = Map(
        "sources.pagination.pages" -> counters("pages"),
        "sources.pagination.retries" -> counters("retries"),
        "sources.jdbc_sink.rows" -> counters("rows"),
        "sources.jdbc_sink.rows_per_s" -> (if (writeS > 0) counters("rows") / writeS else 0.0),
        "streaming.batches" -> counters("batches"),
        "streaming.batch_overhead_s" -> (if (trace.enabled) triggerS - bodyS else 0.0)))
  }

  /** Sink state after a cycle, against the generator's truth: every
    * table's row count, the latest-wins activity values and the stored
    * course titles (`DO NOTHING` keeps the first). On the last cycle the
    * final page is applied a second time, which must change nothing.
    */
  private def check(s: SparkSession, url: String, src: EtlSource,
                    idempotence: Boolean): Seq[String] = {
    val problems = mutable.ArrayBuffer[String]()
    def state(conn: Connection): (Map[String, Long], Map[(Long, Long), (String, Double)],
                                  Map[Long, String]) = {
      val st = conn.createStatement()
      def rows[T](sql: String)(f: java.sql.ResultSet => T): Seq[T] = {
        val rs = st.executeQuery(sql)
        val b = mutable.ArrayBuffer[T]()
        while (rs.next()) b += f(rs)
        rs.close(); b.toSeq
      }
      val counts = (CatalogRelations :+ "activity").map(t =>
        t -> rows(s"SELECT COUNT(*) FROM $t")(_.getLong(1)).head).toMap
      val act = rows("SELECT user_id, course_id, user_name, completion_ratio FROM activity")(
        r => (r.getLong(1), r.getLong(2)) -> (r.getString(3), r.getDouble(4))).toMap
      val titles = rows("""SELECT "id", "title" FROM courses""")(
        r => r.getLong(1) -> r.getString(2)).toMap
      (counts, act, titles)
    }
    val conn = DriverManager.getConnection(url)
    try {
      val (counts, act, titles) = state(conn)
      CatalogRelations.foreach { t =>
        val want = if (t == "courses") src.courseTitle.size.toLong else src.catalogRows.getOrElse(t, 0L)
        if (counts(t) != want) problems += s"$t: ${counts(t)} rows, expected $want"
      }
      if (counts("activity") != src.activity.size)
        problems += s"activity: ${counts("activity")} rows, expected ${src.activity.size}"
      val wrong = src.activity.count { case (k, v) => !act.get(k).contains(v) }
      if (wrong > 0) problems += s"activity: $wrong keys differ from the latest source values"
      val titleWrong = src.courseTitle.count { case (id, t) => !titles.get(id).contains(t) }
      if (titleWrong > 0) problems += s"courses: $titleWrong titles differ from the first-written ones"
      if (idempotence) {
        import s.implicits._
        val m = CatalogPipeline.fanoutManaged(s, src.refreshCourses.last.toDF("body"))
        JdbcSink.appendIfAbsent(m.relations("courses"), url, "courses", Driver, "id")
        m.release()
        JdbcSink.upsertTx(ActivityPipeline.fromJson(s, src.refreshActivity.last),
          url, "activity", Driver, Seq("user_id", "course_id"))
        if (state(conn) != ((counts, act, titles)))
          problems += "re-applying the last refresh page changed the sink"
      }
    } finally conn.close()
    problems.toSeq
  }
}

object EtlWorkload {
  val SmokeSizes = EtlSource.Sizes(40, 20, 100, 50, 2, 4, 10)
  val Driver = "org.apache.derby.jdbc.EmbeddedDriver"
  val CatalogRelations = Seq("courses", "categories", "subcategories", "course_categories",
    "course_subcategories", "topics", "promo_videos", "instructors", "requirements",
    "what_you_will_learn", "images", "caption_languages", "caption_locales")

  implicit final class CountsOps(private val a: Map[String, Double]) extends AnyVal {
    def |+|(b: Map[String, Double]): Map[String, Double] =
      (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap
  }

  /** The activity fact with the reference's composite key, so the
    * UPDATE-else-INSERT merge finds its row by index. Text columns are
    * CLOB, the type Spark's Derby dialect binds strings (and nulls) as.
    */
  def createActivityTable(url: String): Unit = {
    val cols = ActivityPipeline.typed(SparkSession.active.createDataFrame(
      SparkSession.active.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      ActivityPipeline.rawSchema)).schema.fields.map { f =>
      val t = f.dataType match {
        case LongType => "BIGINT NOT NULL"
        case DoubleType => "DOUBLE"
        case BooleanType => "BOOLEAN"
        case TimestampType => "TIMESTAMP"
        case DateType => "DATE"
        case _ => "CLOB"
      }
      s"${f.name} $t"
    }
    val conn = DriverManager.getConnection(s"$url;create=true")
    try conn.createStatement().execute(
      s"CREATE TABLE activity (${cols.mkString(", ")}, PRIMARY KEY (user_id, course_id))")
    finally conn.close()
  }

  def dropDatabase(url: String): Unit =
    try DriverManager.getConnection(s"$url;drop=true").close()
    catch { case _: java.sql.SQLException => () } // Derby reports a drop as 08006

  final case class CycleOut(wallSeconds: Double, records: Long, pageLatencies: Seq[Double],
                            bodySeconds: Seq[Double], error: Option[String])

  /** One refresh cycle against one database. */
  final class Cycle(s: SparkSession, src: EtlSource, url: String, index: Int,
                    trace: Trace, runId: String) {
    private val c = mutable.Map[String, Double]().withDefaultValue(0.0)
    def counters: Map[String, Double] = c.synchronized(c.toMap)
    private def bump(k: String, by: Double = 1.0): Unit = c.synchronized(c(k) += by)

    private val attempts = mutable.Map[String, Int]().withDefaultValue(0)
    private val firstFetch = mutable.Map[String, Long]()
    private val sleep: Int => Unit = secs => { bump("sleeps"); bump("slept_s", secs) }

    /** The generator behind the paged API; a retried page fails once or
      * twice with an error its policy retries.
      */
    private def fetcher(pages: Map[String, Pagination.Page], catalog: Boolean)(
        u: String): Either[Pagination.Failure, Pagination.Page] = attempts.synchronized {
      val n = attempts(u)
      attempts(u) = n + 1
      firstFetch.getOrElseUpdate(u, trace.now())
      src.failureFor(u, n, catalog) match {
        case Some(f) => bump("retries"); Left(f)
        case None => bump("pages"); Right(pages(u))
      }
    }

    private def write(parent: Int, rows: Long)(f: => Unit): Unit = {
      trace.span("sources.jdbc_sink.write", parent, runId)(_ => f)
      bump("rows", rows.toDouble)
    }

    private def fullLoad(op: Int): Unit = {
      import s.implicits._
      val (courses, _) = trace.span("sources.pagination.fetch", op, runId)(_ =>
        Pagination.fetchAll("courses?page=0", fetcher(src.coursePages, catalog = true),
          Pagination.catalogPolicy, sleep))
      val m = trace.span("ingest.fanout", op, runId)(_ =>
        CatalogPipeline.fanoutManaged(s, courses.toDF("body")))
      CatalogRelations.foreach { t =>
        write(op, src.catalogRows.getOrElse(t, 0L))(JdbcSink.append(m.relations(t), url, t, Driver))
      }
      m.release()
      val (activity, _) = trace.span("sources.pagination.fetch", op, runId)(_ =>
        Pagination.fetchAll("activity?page=0", fetcher(src.activityPages, catalog = false),
          Pagination.activityPolicy, sleep))
      val merged = trace.span("ingest.typed", op, runId)(_ =>
        ActivityPipeline.upsert(JdbcSink.readTable(s, url, "activity", Driver),
          ActivityPipeline.fromJson(s, activity)))
      write(op, activity.size)(JdbcSink.append(merged, url, "activity", Driver))
    }

    /** The foreachBatch body: one page, one transaction per sink call. */
    private def page(df: DataFrame, batch: Long, pageLat: mutable.ArrayBuffer[Double],
                     bodies: mutable.ArrayBuffer[Double]): Unit = {
      val bodyStart = trace.now()
      val id = trace.newId()
      val isActivity = get_json_object(col("body"), "$.user_id").isNotNull
      val courses = df.where(!isActivity).select(col("body"))
      val activity = df.where(isActivity)
      val ss = df.sparkSession
      trace.span("page.body", id, runId) { body =>
        val m = trace.span("ingest.fanout", body, runId)(_ => CatalogPipeline.fanoutManaged(ss, courses))
        write(body, src.refreshCourses(batch.toInt).size)(
          JdbcSink.appendIfAbsent(m.relations("courses"), url, "courses", Driver, "id"))
        m.release()
        val typed = trace.span("ingest.typed", body, runId)(_ => ActivityPipeline.typed(
          activity.select(from_json(col("body"), ActivityPipeline.rawSchema).as("r")).select(col("r.*"))))
        write(body, src.refreshActivity(batch.toInt).size)(
          JdbcSink.upsertTx(typed, url, "activity", Driver, Seq("user_id", "course_id")))
      }
      val end = trace.now()
      val start = attempts.synchronized(firstFetch(s"refresh?page=$batch"))
      trace.record(Trace.SpanRec(id, "op/page", 0, runId, start, end))
      pageLat += (end - start) / 1e9
      lastEnd = end
      bodies += (end - bodyStart) / 1e9
      bump("batches")
    }

    @volatile private var lastEnd = 0L

    def run(): CycleOut = {
      val pageLat = mutable.ArrayBuffer[Double]()
      val bodies = mutable.ArrayBuffer[Double]()
      val fetcherName = s"perfbench-$runId"
      val ckpt = s"${sys.props("java.io.tmpdir")}/perfbench-ckpt-${ProcessHandle.current().pid()}-$index"
      PagedApiSource.register(fetcherName, PagedApiSource.FetchSpec(
        "refresh?page=0", fetcher(src.refreshPages, catalog = false),
        Pagination.activityPolicy, sleep))
      val start = trace.now()
      val error = try {
        trace.op("op/full_load", 0, runId)(fullLoad)
        val q = s.readStream.format("graft.sources.PagedApiSource")
          .option("fetcher", fetcherName).load()
          .writeStream.option("checkpointLocation", ckpt)
          .foreachBatch { (df: DataFrame, batch: Long) => page(df, batch, pageLat, bodies) }
          .start()
        try q.processAllAvailable() finally q.stop()
        None
      } catch { case e: Throwable => Some(s"cycle $index: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      finally PagedApiSource.unregister(fetcherName)
      val wall = ((if (lastEnd > start) lastEnd else trace.now()) - start) / 1e9
      s.catalog.clearCache()
      CycleOut(wall, src.sourceRecords, pageLat.toSeq, bodies.toSeq, error)
    }
  }
}
