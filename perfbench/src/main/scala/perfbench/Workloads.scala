package perfbench

/** The benchmark's named workloads. Each stresses a different layer
  * of the engine, so that an optimization of one layer has a workload
  * that exercises it and one that bypasses it (README.md gives the
  * per-layer to end-to-end mapping). Each is a fixed subset of its
  * query family, sized so that a run (set-up, check pass, warm passes
  * and two or three timed passes on 4 cores) stays under a minute. */
final case class Workload(name: String, queries: Seq[String], csvSink: Boolean)

object Workloads {
  /** The reference pipeline's steps (metadata filter, Unicode and
    * Vietnamese normalization, sentence split, PDF text, WER reject)
    * plus small relational queries, written as CSV (the
    * reference's S13 consolidation). Mostly sub-second queries:
    * per-job overhead and the write path. The paragraph dedup
    * (q148) localCheckpoints its exploded windows, so the persist
    * side of `graft.operators` is measured too. */
  val ttsEtl = Workload("tts_etl", Seq(
    "q02_filter_contains", "q10_top5_orders", "q85_nfc_normalize",
    "q15_status_counters", "q05_customers_no_orders", "q36_vi_normalize",
    "q42_sentence_split", "q184_pdf_extract", "q34_wer_reject",
    "q148_paragraph_dedup"),
    csvSink = true)

  /** Streaming lanes: a windowed census (complete mode), a
    * stream-stream join (four state stores) and a stateless filter
    * lane. Micro-batches, state store and WAL; the only workload that
    * reaches `graft.streaming`. */
  val streamLanes = Workload("stream_lanes", Seq(
    "q187_stream_hourly", "q214_stream_stream_join", "q245_stream_line_filter"),
    csvSink = false)

  val all: Seq[Workload] = Seq(ttsEtl, streamLanes)

  def apply(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name'; expected one of ${all.map(_.name).mkString(", ")}"))
}
