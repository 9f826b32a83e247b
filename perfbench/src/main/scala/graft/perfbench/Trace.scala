package graft.perfbench

/** Per-layer figures of the traced run, computed from the harness's
  * spans, op records and listener counts. */
object Trace {
  val Layers = Seq("etl", "reporting", "analytics", "acid", "streaming", "dedup",
    "similarity", "client")

  val CommitVerbs = Seq("merge", "merge_conditional", "update", "delete", "append",
    "merge_dv", "update_dv", "delete_dv")

  /** Table roles whose log replay and checkpoints are reported: the
    * workload's main table, the SCD-2 dimension and the view. */
  val Roles = Seq("table", "scd2", "mv")

  /** Every per-layer metric, in output order, with its unit. A layer a
    * workload does not call reads 0 there. */
  val PerLayer: Seq[(String, String)] =
    CommitVerbs.map(v => s"acid.commit_ms.$v" -> "ms") ++ Seq(
      "acid.overwrite_partitions_ms" -> "ms",
      "acid.read_ms" -> "ms") ++
    Roles.flatMap(r => Seq(s"acid.replay_commits.mean.$r" -> "count",
      s"acid.replay_commits.max.$r" -> "count", s"acid.checkpoints.$r" -> "count")) ++ Seq(
      "acid.parse_cache_hit_ratio" -> "ratio",
      "acid.files_added_per_commit" -> "count",
      "acid.files_removed_per_commit" -> "count",
      "acid.bytes_written_per_changed_row" -> "bytes",
      "acid.live_files" -> "count",
      "acid.storage_amplification" -> "ratio",
      "streaming.scd2_pump_ms" -> "ms",
      "streaming.mv_pump_ms" -> "ms",
      "streaming.batches_per_pump" -> "count",
      "etl.consumer_ms" -> "ms",
      "etl.rows_in" -> "count",
      "etl.rows_out" -> "count",
      "reporting.q1_ms" -> "ms",
      "reporting.q2_ms" -> "ms",
      "reporting.consume_ms" -> "ms",
      "analytics.pricing_ms" -> "ms",
      "analytics.star_join_ms" -> "ms",
      "dedup.batch_ms" -> "ms",
      "dedup.verified_pairs" -> "count",
      "dedup.verify_yield" -> "ratio",
      "similarity.probe_ms" -> "ms",
      "similarity.input_rows_per_query" -> "count",
      "similarity.index_build_ms" -> "ms",
      "similarity.recall_at_10" -> "ratio") ++
    Seq("op", "step").flatMap(c => Seq(
      s"spark.$c.jobs" -> "count", s"spark.$c.tasks" -> "count",
      s"spark.$c.job_covered_ms" -> "ms", s"spark.$c.driver_gap_ms" -> "ms",
      s"spark.$c.shuffle_write_bytes" -> "bytes", s"spark.$c.input_bytes" -> "bytes")) ++
    Layers.map(l => s"self_share.$l" -> "ratio") ++ Seq(
      "jvm.heap_peak_mb" -> "MB",
      "trace.overhead_ratio" -> "ratio")

  /** Mean duration of the traced spans called `name`, in ms. */
  def spanMs(h: Harness, name: String): Double =
    Harness.mean(h.spans.filter(_.name == name).map(_.ms).toSeq)

  /** Per-op Spark activity, self time per layer, heap and overhead. */
  def common(h: Harness, wallS: Double): Seq[Metric] = {
    val traced = h.ops.filter(o => o.traced && o.ok).toSeq
    val spark = Seq("op", "step").flatMap { c =>
      val os = traced.filter(_.cls == c)
      val per = os.map(o => o -> h.sparkOf(o.id))
      def avg(f: ((OpRec, OpSpark)) => Double) = Harness.mean(per.map(f))
      val cov = per.map { case (o, s) => o -> Harness.covered(s.jobIntervals.toSeq,
        o.startMs, o.endMs).toDouble }
      Seq(
        Metric(s"spark.$c.jobs", avg(_._2.jobs.toDouble), "count"),
        Metric(s"spark.$c.tasks", avg(_._2.tasks.toDouble), "count"),
        Metric(s"spark.$c.job_covered_ms", Harness.mean(cov.map(_._2)), "ms"),
        Metric(s"spark.$c.driver_gap_ms",
          Harness.mean(cov.map { case (o, x) => math.max(0.0, o.wallMs - x) }), "ms"),
        Metric(s"spark.$c.shuffle_write_bytes", avg(_._2.shuffleWriteBytes.toDouble), "bytes"),
        Metric(s"spark.$c.input_bytes", avg(_._2.inputBytes.toDouble), "bytes"))
    }
    val self = selfMs(h)
    val tracedWallMs = traced.map(_.wallMs).sum
    val shares = Layers.map(l => Metric(s"self_share.$l",
      if (tracedWallMs == 0) 0.0 else self.getOrElse(l, 0.0) / tracedWallMs, "ratio"))
    // overhead: median op latency of traced ops over untraced ops, per
    // op kind, weighted by the kind's share of the traced ops
    val byKind = h.ops.filter(_.ok).groupBy(_.kind).toSeq.flatMap { case (_, os) =>
      val on = os.filter(_.traced).map(_.wallMs).toSeq
      val off = os.filterNot(_.traced).map(_.wallMs).toSeq
      if (on.isEmpty || off.isEmpty) None
      else Some((Harness.median(on) / Harness.median(off) - 1.0, on.size.toDouble))
    }
    val overhead = if (byKind.isEmpty) 0.0
      else byKind.map { case (r, n) => r * n }.sum / byKind.map(_._2).sum
    spark ++ shares ++ Seq(
      Metric("jvm.heap_peak_mb", h.heapPeakBytes / 1048576.0, "MB"),
      Metric("trace.overhead_ratio", overhead, "ratio"))
  }

  /** Self time per layer: each span's duration minus the part of it its
    * child spans cover. */
  def selfMs(h: Harness): Map[String, Double] = {
    val kids = h.spans.groupBy(_.parent)
    h.spans.toSeq.map { s =>
      val ch = kids.getOrElse(s.id, Nil).filter(_.opId == s.opId)
        .map(k => (k.startNs, k.endNs)).toSeq
      s.layer -> (s.endNs - s.startNs - Harness.covered(ch, s.startNs, s.endNs)) / 1e6
    }.groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum }
  }

  /** Spans and op records as JSON, for a later look at a single run. */
  def writeSpans(h: Harness, path: String, workload: String, seed: Long): Unit = {
    val spans = h.spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.opId},"name":"${s.name}",""" +
      s""""layer":"${s.layer}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    val ops = h.ops.map { o =>
      val sp = h.sparkOf(o.id)
      s"""{"op":${o.id},"kind":"${o.kind}","class":"${o.cls}","traced":${o.traced},""" +
      s""""wall_ms":${o.wallMs},"ok":${o.ok},"jobs":${sp.jobs},"tasks":${sp.tasks},""" +
      s""""shuffle_write_bytes":${sp.shuffleWriteBytes},"input_bytes":${sp.inputBytes}}"""
    }
    Main.writeText(path,
      s"""{"workload":"$workload","seed":$seed,"ops":[${ops.mkString(",\n")}],""" +
      s""""spans":[${spans.mkString(",\n")}]}""" + "\n")
  }
}
