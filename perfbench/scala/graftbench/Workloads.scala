package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.cdc.{Apply, AvroWal, Envelope, SnapshotWire, StreamApply}

/** An op's result, consumed through `Digest.frame`: extra digest groups
  * feed the cross-op checks, flags count rows that are wrong on their own.
  */
final case class Out(df: DataFrame, groups: Seq[(String, Seq[Column])] = Nil,
    flags: Seq[(String, Column)] = Nil)

/** One timed call into graft. `layer` is the module or stage it exercises. */
final case class Op(name: String, layer: String, run: () => Out)

/** A named check on the digests the ops produced; `op` is the op a
  * failure marks wrong. */
final case class Check(op: String, name: String, ok: Boolean, detail: String)

/** A workload: its ops, the lanes compared against the DuckDB oracle
  * (lane → the op whose result it vouches for), and the checks that tie the timed results to each other and to the
  * oracle-checked lanes. A check gets op → group → digest, and the
  * directory where the oracle lanes' results were written.
  */
final case class Workload(name: String, ops: Seq[Op], oracleLanes: Seq[(String, String)],
    checks: (Map[String, Map[String, String]], String) => Seq[Check])

object Workloads {
  type Q = (SparkSession, String) => DataFrame

  /** Module of each declared lane, in `SparkEntry.queries` order. */
  val modules: Seq[(String, Map[String, Q])] = Seq(
    "ops.Relational" -> graft.ops.Relational.queries,
    "cdc.CdcQueries" -> graft.cdc.CdcQueries.queries,
    "streaming.StreamingQueries" -> graft.streaming.StreamingQueries.queries,
    "ops.Dedup" -> graft.ops.Dedup.queries,
    "ops.Similarity" -> graft.ops.Similarity.queries,
    "ops.TextAnalysis" -> graft.ops.TextAnalysis.queries,
    "ops.Multimodal" -> graft.ops.Multimodal.queries)

  def moduleOf(lane: String): String =
    modules.collectFirst { case (m, qs) if qs.contains(lane) => m }.getOrElse("other")

  /** Lanes whose run time is mostly per-job fixed cost: the heaviest
    * tracked lane (q52 runs ~47 small jobs while its DataFrame is built)
    * plus one lane from every other module, so each module's
    * build/plan/exec split is measured.
    */
  val lanes: Seq[String] = Seq(
    "q52_rfm", "d02_ngram_jaccard",
    "v01_knn_brute", "t02_quality", "m01_binary_meta", "c04_apply_latest",
    "s01_tumbling_window")

  def lanesWorkload(name: String, s: SparkSession, dir: String): Workload = {
    val ops = lanes.map(l => Op(l, moduleOf(l), () => Out(graft.SparkEntry.queries(l)(s, dir))))
    Workload(name, ops, lanes.filter(graft.SparkEntry.oracleSql.contains).map(l => l -> l),
      (_, _) => Nil)
  }

  /** Every execution of an op (warm-up included) must digest the same. */
  def sameEveryPass(digests: Map[String, Seq[Map[String, String]]]): Seq[Check] =
    digests.toSeq.map { case (op, ds) =>
      Check(op, s"${op}_same_every_pass", ds.distinct.size == 1,
        ds.distinct.map(_.toSeq.sorted.mkString(" ")).mkString(" | "))
    }

  private val cutTs = lit("2024-01-20").cast("timestamp")

  /** The c08 snapshot cut: the last LSN before the cut timestamp. */
  private def snapLsn(flat: DataFrame): DataFrame =
    flat.filter(col("tx_at") < cutTs).agg(coalesce(max("lsn_long"), lit(-1L)).as("s"))

  private def pv(value: String): Seq[(String, Seq[Column])] =
    Seq("pv" -> Seq(col("pk"), round(col(value), 2)))

  private val recCols = Seq("lsn_long", "op", "pk", "value", "tx_at_us")

  /** creek's consumer path: envelope, Avro codec, apply, snapshot ⊕ WAL
    * catch-up, snapshot wire produce/consume + replay, streaming apply.
    */
  def cdcWorkload(name: String, s: SparkSession, dir: String): Workload = {
    implicit val ss: SparkSession = s
    def flat = Envelope.flat(Tables.events(s, dir))
    val ops = Seq(
      Op("envelope", "cdc.envelope", () => Out(flat)),
      Op("codec", "cdc.codec", () => Out(AvroWal.roundtrip(flat).toDF(),
        Seq("rec" -> recCols.map(col)),
        Seq("bad_frame" -> !(col("magic_ok") && col("fp_ok"))))),
      Op("apply", "cdc.apply", () => Out(Apply.latest(flat), pv("last_value"))),
      Op("catchup", "cdc.catchup", () =>
        Out(Apply.snapshotPlusWal(flat, snapLsn(flat)), pv("last_value"))),
      Op("snapwire", "cdc.snapwire", () => {
        // snapshot at the cut travels the wire; WAL after the cut replays on it
        val f = flat
        val cut = snapLsn(f).head().getLong(0)
        val state = Apply.latest(f.filter(col("lsn_long") <= cut))
          .select(col("pk"), col("last_value").as("value"))
        val (_, rows) = SnapshotWire.consume(SnapshotWire.produce(state, cut, cut, 0L))
        val snapRows = rows.select(lit(cut).as("lsn_long"), lit("r").as("op"),
          lit(null).cast("long").as("pk_before"), col("pk").as("pk_after"),
          col("value").as("after_value"))
        val wal = f.filter(col("lsn_long") > cut)
          .select("lsn_long", "op", "pk_before", "pk_after", "after_value")
        Out(Apply.latest(snapRows.unionByName(wal)), pv("last_value"))
      }),
      Op("stream_apply", "cdc.stream_apply", () =>
        Out(StreamApply.run(s, dir, s"graftbench_apply_${System.nanoTime()}"), pv("value"))))
    val oracleLanes = Seq("c04_apply_latest" -> "apply", "c08_snapshot_plus_wal" -> "catchup",
      "c14_avro_roundtrip" -> "codec")
    def checks(d: Map[String, Map[String, String]], checkDir: String): Seq[Check] = {
      val events = Tables.events(s, dir).count()
      val walRecs = Digest.read(Digest.frame(AvroWal.walRecords(flat).toDF(),
        Seq("rec" -> recCols.map(col))), Seq("rec"), Nil)("rec")
      def lanePv(lane: String, value: String) = Digest.read(Digest.frame(
        s.read.parquet(s"$checkDir/$lane"), pv(value)), Seq("pv"), Nil)("pv")
      val applyPv = d("apply")("pv")
      Seq(
        Check("envelope", "envelope_rows", d("envelope")("all").startsWith(s"$events:"),
          s"${d("envelope")("all")} vs $events events"),
        Check("codec", "codec_flags", d("codec")("bad_frame") == "0", s"${d("codec")("bad_frame")} bad frames"),
        Check("codec", "codec_roundtrip", d("codec")("rec") == walRecs, s"${d("codec")("rec")} vs $walRecs"),
        Check("apply", "c04_matches_apply", lanePv("c04_apply_latest", "value") == applyPv, applyPv),
        Check("catchup", "c08_matches_catchup",
          lanePv("c08_snapshot_plus_wal", "value") == d("catchup")("pv"), d("catchup")("pv"))) ++
        Seq("catchup", "snapwire", "stream_apply").map(o =>
          Check(o, s"${o}_matches_apply", d(o)("pv") == applyPv, s"${d(o)("pv")} vs $applyPv"))
    }
    Workload(name, ops, oracleLanes, checks)
  }
}
