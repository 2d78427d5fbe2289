package perfbench

import java.io.File
import scala.util.Random
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A fixed set of registered queries (`graft.SparkEntry.queries`), run
  * pass after pass. Each pass gets a fresh session, so the session memos
  * start cold, as they do for a user; the seed shuffles the order of the
  * queries in every pass. One operation is one query: the query function
  * (`query.build`) plus a noop write of its result (`query.execute`), the
  * action `graft.Bench` times.
  *
  * The output check rides the timed write: an `Observation` collects the
  * row count and an order-insensitive hash sum of the rows, which are
  * compared after the pass with the values recorded in `expected.json`.
  */
final class QueryWorkload(name: String, prefixes: Seq[String], passSeconds: Double)
    extends Workload {
  private var queries: Seq[(String, (SparkSession, String) => DataFrame)] = Nil
  private var expected: Map[String, Map[String, Long]] = Map.empty
  private var dataBytes = 0L

  def meta: Map[String, Any] = Map("queries" -> queries.map(_._1),
    "nominal_pass_s" -> passSeconds, "data_bytes" -> dataBytes)

  def setup(spark: SparkSession, a: Main.Args): Unit = {
    val registry = graft.SparkEntry.queries
    queries = prefixes.map { p =>
      registry.find(_._1.split("_").head == p)
        .getOrElse(sys.error(s"no registered query $p"))
    }
    // a missing data directory fails here, not inside the timed loop
    dataBytes = Option(new File(a.dataDir).listFiles()).getOrElse(
      sys.error(s"no data directory ${a.dataDir}"))
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    val all = json.readValue(new File(a.expectedFile), classOf[Map[String, Any]])
    expected = all.getOrElse(new File(a.dataDir).getName, Map.empty)
      .asInstanceOf[Map[String, Map[String, Any]]]
      .map { case (q, v) => q -> v.map { case (k, x) => k -> x.toString.toLong } }
  }

  def warmUp(spark: SparkSession, a: Main.Args): Unit = {
    val warm = spark.newSession()
    queries.foreach { case (_, fn) =>
      fn(warm, a.warmData).write.format("noop").mode("overwrite").save()
      warm.catalog.clearCache()
    }
  }

  /** Passes that fill about `seconds` at the nominal pass time: a fixed
    * count for given arguments, so every run does the same work.
    */
  def passes(seconds: Double): Int = math.max(1, math.round(seconds / passSeconds).toInt)

  def run(spark: SparkSession, a: Main.Args, trace: Trace): RunResult = {
    val runId = s"${name}-${a.seed}"
    final case class Op(query: String, pass: Int, start: Long, end: Long,
                        rows: Long, ok: Boolean)
    val ops = scala.collection.mutable.ArrayBuffer[Op]()
    val problems = scala.collection.mutable.ArrayBuffer[String]()
    val observed = scala.collection.mutable.LinkedHashMap[String, Map[String, Long]]()
    (0 until passes(a.seconds)).foreach { pass =>
      val session = trace.newSession(spark)
      val order = new Random(a.seed * 7919 + pass).shuffle(queries)
      trace.op("pass", 0, runId) { passId =>
        order.foreach { case (q, fn) =>
          val obs = Observation()
          val start = trace.now()
          val error = try {
            trace.op(s"op/$q", passId, runId) { opId =>
              val df = trace.span("query.build", opId, runId)(_ => fn(session, a.dataDir))
              trace.span("query.execute", opId, runId) { _ =>
                df.observe(obs, count(lit(1)).as("rows"), sum(rowHash(df)).as("fp"))
                  .write.format("noop").mode("overwrite").save()
              }
            }
            None
          } catch { case e: Throwable => Some(s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}") }
          val end = trace.now()
          // outside the timed bracket: release .cache()d subplans (as
          // graft.Bench does) and check the observed output
          session.catalog.clearCache()
          val check = error.toLeft(obs.get).flatMap { m =>
            val got = Map("rows" -> m("rows").toString.toLong,
                          "fp" -> Option(m("fp")).map(_.toString.toLong).getOrElse(0L))
            observed.getOrElseUpdate(q, got)
            expected.get(q) match {
              case Some(want) if want == got => Right(got("rows"))
              case Some(want) => Left(s"$q: output $got, expected $want")
              case None => Left(s"$q: no expected value recorded")
            }
          }
          check.left.foreach(problems += _)
          ops += Op(q, pass, start, end, check.getOrElse(0L), check.isRight)
        }
      }
    }
    val lat = ops.filter(_.ok).map(o => (o.end - o.start) / 1e9).toSeq
    val byPass = ops.groupBy(_.pass).values.toSeq
    val walls = byPass.map(p => (p.map(_.end).max - p.map(_.start).min) / 1e9)
    val rate = byPass.map(p => p.map(_.rows).sum / ((p.map(_.end).max - p.map(_.start).min) / 1e9))
    val (tailPct, tail) = Stats.tail(lat)
    RunResult(
      attempted = ops.size, failed = ops.count(!_.ok), problems = problems.toSeq,
      endToEnd = Map(
        "wall_s" -> Stats.median(walls),
        "op_p50_s" -> Stats.median(lat),
        "op_tail_s" -> tail,
        "records_per_s" -> Stats.median(rate)),
      notes = Map("passes" -> byPass.size, "ops" -> ops.size,
        "op_tail_percentile" -> tailPct,
        "op_samples" -> lat.size, "observed" -> observed.toMap,
        "per_query_s" -> ops.groupBy(_.query).map { case (q, os) =>
          q -> os.map(o => (o.end - o.start) / 1e9) }),
      layers = Map.empty)
  }

  /** Hash of one output row, insensitive to float noise below 1e-6 and to
    * map entry order.
    */
  private def rowHash(df: DataFrame): Column =
    xxhash64(df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType)).toIndexedSeq: _*)
      .bitwiseAND(lit(0xFFFFFFFFL))

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType | _: DecimalType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) => struct(fs.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c),
        e => struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case _ => c
  }
}

object QueryWorkload {

  /** Each set is a query family of the driver bench, trimmed so that a
    * pass with cold session memos takes seconds; `passSeconds` is that
    * pass's time at 4 cores after the warm-up.
    */
  val sets: Map[String, (Seq[String], Double)] = Map(
    // eight censuses over the memoized scored corpus; whichever runs first
    // in a pass pays the memo build. sf0.01: the build grows with the corpus
    "lr_census" -> (Seq("q209", "q244", "q250", "q257", "q264", "q281", "q282", "q293"), 10.0),
  )

  def named(name: String): QueryWorkload = sets.get(name) match {
    case Some((qs, s)) => new QueryWorkload(name, qs, s)
    case None => sys.error(s"unknown workload $name")
  }
}
