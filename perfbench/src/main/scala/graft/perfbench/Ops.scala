package graft.perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.SparkEntry
import graft.core.Tables
import graft.sources.{Ingest, LoadDump, Npy}
import graft.streaming.StreamOps

/** One timed call into the library. `run` does its work inside the
  * harness's `construct` and `write` spans. `verify` looks at what that
  * execution produced and `check` at what the last one left behind, after
  * the timed window; both say what is wrong, if anything, and neither is
  * timed.
  */
abstract class Op(val name: String) {
  /** Untimed per-pass input generation, done before the pass clock starts. */
  def prepare(pass: Int): Unit = ()
  def run(h: Harness): Unit
  def verify(h: Harness): Option[String] = None
  def check(h: Harness): Option[String] = None
  /** Bytes the op moved through a source format, if it is a dump or load. */
  def sourceBytes(h: Harness): Option[(String, String, Long)] = None
}

/** A registered query: built by its `SparkEntry.queries` closure and
  * collected, so the caller holds its result; every execution's rows are
  * hash-compared with the DuckDB oracle. */
class QueryOp(query: String, label: String) extends Op(label) {
  def this(query: String) = this(query, query)
  private var got: String = _
  def run(h: Harness): Unit = {
    val df = h.construct(SparkEntry.queries(query)(h.spark, h.data))
    val rows = h.write(df.collect())
    got = Canonical.hashRows(df.columns.toSeq, rows.iterator.map(_.toSeq))
  }
  protected def expected(h: Harness): Option[String] = h.oracle.get(query)
  override def verify(h: Harness): Option[String] = expected(h) match {
    case Some(e) if e == got => None
    case Some(e) => Some(s"output hash $got differs from the oracle's $e")
    case None => Some("no oracle hash")
  }
}

/** Test plants: an op that throws, and an op whose answer is wrong. */
final class ThrowingOp extends Op("planted_throw") {
  def run(h: Harness): Unit = h.construct(throw new IllegalStateException("planted failure"))
}
final class WrongAnswerOp extends QueryOp("vc_returnflag", "planted_wrong") {
  override protected def expected(h: Harness): Option[String] = Some("0" * 32)
}

object Ops {

  /** The benchmark's own op lists. They are literals on purpose: a query
    * renamed or dropped from the registry must fail the run, not shrink it.
    */
  val Curate: Seq[String] = Seq(
    "ngram_jaccard_pairs", "dedup_exact_docs", "repetition_docs", "entropy_docs",
    "bpe_tokens", "top_ngrams", "simhash_docs")

  val Tabular: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "alignable", "dq_orders",
    "weighted_avg", "pivot_status")

  val QueryWorkloads: Map[String, Seq[String]] = Map("curate" -> Curate, "tabular" -> Tabular)

  /** Nominal seconds per pass on a 4-core host, the cold pass and the
    * settling pass included, from which a run's pass count follows. */
  val PassSeconds: Map[String, Double] =
    Map("curate" -> 3.6, "tabular" -> 4.3, "ingest_stream" -> 8.0)

  /** The query the untimed warm-up runs, as `graft.Bench` does. */
  val WarmUp = "vc_returnflag"

  /** Every listed query must be registered and have an oracle. */
  def drift(oracles: Set[String]): Seq[String] = {
    val qs = SparkEntry.queries.keySet
    (QueryWorkloads.values.flatten.toSeq :+ WarmUp).distinct.flatMap { q =>
      (if (qs(q)) Nil else Seq(s"$q is not in SparkEntry.queries")) ++
        (if (oracles(q)) Nil else Seq(s"$q has no oracle"))
    }
  }

  /** The workload as units: the seed permutes units, and the ops inside a
    * unit keep their order (a load follows its dump). */
  def units(workload: String, h: Harness, plant: Option[String]): Seq[Seq[Op]] = {
    val base: Seq[Seq[Op]] = QueryWorkloads.get(workload) match {
      case Some(qs) => qs.map(q => Seq(new QueryOp(q)))
      case None if workload == "ingest_stream" => IngestStream.units(h)
      case None => throw new IllegalArgumentException(s"unknown workload $workload")
    }
    base ++ plant.toSeq.map {
      case "throw" => Seq(new ThrowingOp)
      case "wrong" => Seq(new WrongAnswerOp)
      case p => throw new IllegalArgumentException(s"unknown plant $p")
    }
  }
}

/** The write path beside the reads: ingest of seeded nested records, dump
  * and reload through each source format, npy vectors, and three
  * `StreamOps` operators run as real Structured Streaming queries over
  * `events` split into seeded parquet files (which `run.py` writes into
  * `stream_in` before the JVM starts, one micro-batch per file). */
object IngestStream {

  val DumpTable = "orders"
  val Formats = Seq("parquet", "orc", "csv", "jsonl")
  private val Micros = Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
  private def opts(fmt: String) = if (fmt == "csv" || fmt == "jsonl") Micros else Map[String, String]()
  val IngestRows = 4000

  def units(h: Harness): Seq[Seq[Op]] = {
    val ingest: Seq[Seq[Op]] = Seq(Seq(new IngestOp(h.seed)))
    var tableHash: Option[String] = None
    def written = {
      val df = Tables.load(h.spark, h.data, DumpTable)
      if (tableHash.isEmpty) tableHash = Some(Canonical.hash(df))
      (df, tableHash.get)
    }
    val roundTrips: Seq[Seq[Op]] = Formats.map { f =>
      val rt = new RoundTrip(f, written)
      Seq(rt.dumpOp, rt.loadOp)
    }
    val npy = new NpyTrip
    val streams: Seq[Op] = Seq(
      new StreamOp("stream_windowed_counts",
          e => StreamOps.windowedCounts(e, "ts", "1 day"), OutputMode.Complete),
      new StreamOp("stream_dedup",
          e => StreamOps.dedupStream(e, "ts", Seq("event_id")), OutputMode.Append),
      new StreamOp("stream_hll_registers",
          e => StreamOps.hllWindowRegisters(e, "ts", "1 day", "user_id"), OutputMode.Complete))
    ingest ++ roundTrips ++ Seq(Seq(npy.dumpOp, npy.loadOp)) ++ streams.map(Seq(_))
  }

  def dirBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length
    walk(new File(path))
  }

  /** Same frame as the one whose hash is `want`, whatever types the
    * format gave back. */
  def sameFrame(written: DataFrame, want: String, loaded: DataFrame): Option[String] = {
    val missing = written.columns.filterNot(loaded.columns.contains)
    if (missing.nonEmpty) return Some(s"columns lost: ${missing.mkString(",")}")
    val got = Canonical.hash(loaded.select(written.schema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*))
    if (got == want) None else Some(s"round trip hash $got differs from the written frame's $want")
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  /** `Ingest.dfFromIterable` over nested records whose optional key set
    * changes with the pass, then a dump to the same parquet path every
    * pass and a re-read through `Tables.load`. */
  final class IngestOp(seed: Long) extends Op("ingest_records") {
    private var records: Seq[Map[String, Any]] = Nil
    private var frame: DataFrame = _
    private val optional = Seq("a_long" -> 0, "b_double" -> 1, "c_flag" -> 2, "d_text" -> 3,
      "e_nested" -> 4, "f_long" -> 5, "g_text" -> 6, "h_double" -> 7)

    override def prepare(pass: Int): Unit = {
      val rnd = new Random(seed * 7919L + pass)
      val keys = optional.filter(_ => rnd.nextBoolean())
      records = (0 until IngestRows).map { i =>
        val base = Map[String, Any]("id" -> i.toLong,
          "user" -> Map("name" -> s"user${rnd.nextInt(500)}", "age" -> rnd.nextInt(90)),
          "score" -> rnd.nextInt(100000) / 100.0)
        base ++ keys.filter(_ => rnd.nextInt(3) > 0).map { case (k, t) =>
          k -> (t match {
            case 0 | 5 => rnd.nextLong() >>> 8
            case 1 | 7 => rnd.nextInt(1000000) / 1000.0
            case 2 => rnd.nextBoolean()
            case 4 => Map("x" -> rnd.nextInt(10), "y" -> s"v${rnd.nextInt(50)}")
            case _ => rnd.alphanumeric.take(12).mkString
          })
        }
      }
    }

    def run(h: Harness): Unit = {
      val df = h.construct(Ingest.dfFromIterable(h.spark, records))
      h.write(LoadDump.dump(df, h.path("ingest.parquet")))
      val back = h.construct(Tables.load(h.spark, h.work, "ingest"))
      h.write(back.write.format("noop").mode("overwrite").save())
      frame = df
    }

    override def check(h: Harness): Option[String] = {
      val keys = records.flatMap(r => Ingest.flatten(r).keys).toSet
      if (frame.columns.toSet != keys) Some(s"columns ${frame.columns.sorted.mkString(",")}")
      else {
        val rows = frame.collect()
        if (rows.length != records.size) Some("row count differs from the records")
        else sameFrame(frame, Canonical.hashRows(frame.columns.toSeq, rows.iterator.map(_.toSeq)),
          Tables.load(h.spark, h.work, "ingest"))
      }
    }
  }

  /** `LoadDump.dump` of the table, then `LoadDump.load` plus a full scan;
    * `written` is the table and its hash. */
  final class RoundTrip(fmt: String, written: => (DataFrame, String)) {
    private def file(h: Harness) = h.path(s"$DumpTable.$fmt")
    private var memo: Option[Option[String]] = None
    private def verdict(h: Harness): Option[String] = {
      if (memo.isEmpty) {
        val (df, want) = written
        memo = Some(sameFrame(df, want, LoadDump.load(h.spark, file(h), opts(fmt))))
      }
      memo.get
    }
    val dumpOp: Op = new Op(s"dump_${DumpTable}_$fmt") {
      def run(h: Harness): Unit = {
        val df = h.construct(Tables.load(h.spark, h.data, DumpTable))
        h.write(LoadDump.dump(df, file(h), opts(fmt)))
      }
      override def check(h: Harness): Option[String] = verdict(h)
      override def sourceBytes(h: Harness) = Some(("dump", fmt, dirBytes(file(h))))
    }
    val loadOp: Op = new Op(s"load_${DumpTable}_$fmt") {
      def run(h: Harness): Unit = {
        val df = h.construct(LoadDump.load(h.spark, file(h), opts(fmt)))
        h.write(df.write.format("noop").mode("overwrite").save())
      }
      override def check(h: Harness): Option[String] = verdict(h)
      override def sourceBytes(h: Harness) = Some(("load", fmt, dirBytes(file(h))))
    }
  }

  /** `Npy.dump` of the embedding vectors in id order, then `Npy.load`. */
  final class NpyTrip {
    private def file(h: Harness) = h.path("embeddings.npy")
    val dumpOp: Op = new Op("dump_embeddings_npy") {
      def run(h: Harness): Unit = {
        val df = h.construct(Tables.load(h.spark, h.data, "embeddings").orderBy("vec_id"))
        h.write(Npy.dump(df, "embedding", file(h), "<f4"))
      }
      override def check(h: Harness): Option[String] = verdict(h)
      override def sourceBytes(h: Harness) = Some(("dump", "npy", dirBytes(file(h))))
    }
    val loadOp: Op = new Op("load_embeddings_npy") {
      def run(h: Harness): Unit = {
        val df = h.construct(Npy.load(h.spark, file(h)))
        h.write(df.write.format("noop").mode("overwrite").save())
      }
      override def check(h: Harness): Option[String] = verdict(h)
      override def sourceBytes(h: Harness) = Some(("load", "npy", dirBytes(file(h))))
    }
    private var memo: Option[Option[String]] = None
    private def verdict(h: Harness): Option[String] = {
      if (memo.isEmpty) memo = Some(compare(h))
      memo.get
    }
    private def compare(h: Harness): Option[String] = {
      val s = h.spark
      import s.implicits._
      val expected = Tables.load(s, h.data, "embeddings").orderBy("vec_id")
        .select(col("embedding").cast("array<double>")).as[Seq[Double]].collect()
        .zipWithIndex.map { case (v, i) => Seq(i.toLong, v) }
      val want = Canonical.hashRows(Seq("idx", "values"), expected.iterator)
      val got = Canonical.hash(Npy.load(s, file(h)).select("idx", "values"))
      if (want == got) None else Some(s"npy round trip hash $got differs from $want")
    }
  }

  /** A `StreamOps` operator as a real streaming query: the file source over
    * the split `events`, one file per micro-batch, an `AvailableNow`
    * trigger and a memory sink. Checked against the batch call of the same
    * function over the same files. */
  /** Parquet hands `ts` back without a time zone; watermarks need one. */
  private def eventTime(df: DataFrame): DataFrame = df.withColumn("ts", col("ts").cast("timestamp"))

  final class StreamOp(label: String, f: DataFrame => DataFrame, mode: OutputMode)
      extends Op(label) {
    def run(h: Harness): Unit = {
      val s = h.spark
      val in = h.path("stream_in")
      val ckpt = new File(h.path(s"ckpt/$label"))
      deleteRecursively(ckpt)
      val stream = h.construct {
        val schema = s.read.parquet(in).schema
        f(eventTime(s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(in)))
      }
      h.write {
        val q = stream.writeStream.format("memory").queryName(label)
          .outputMode(mode).option("checkpointLocation", ckpt.getPath)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
    }
    override def check(h: Harness): Option[String] = {
      val s = h.spark
      val got = Canonical.hash(s.table(label))
      val want = Canonical.hash(f(eventTime(s.read.parquet(h.path("stream_in")))))
      if (got == want) None else Some(s"stream result hash $got differs from the batch call's $want")
    }
  }
}
