package perfbench

/** Per-op layer figures of a traced run, from the spans and Spark counts. */
object Layers {
  /** The phase whose Spark tasks do the op's main work (busy-share base). */
  private val WorkPhase = Set("exec", "run")

  def perOp(tr: Tracer, layers: Seq[OpLayers], cores: Int): Seq[Map[String, Double]] = {
    val spans = tr.all
    val kids = spans.groupBy(_.parent)
    val self = Tracer.selfMs(spans)
    spans.filter(s => s.parent == tr.root && s.name == "op").zip(layers).map { case (op, extra) =>
      val children = kids.getOrElse(op.id, Nil)
      val c = tr.sparkCounts(op.id +: children.map(_.id))
      val work = children.filter(s => WorkPhase(s.name))
      val workRunMs = tr.sparkCounts(work.map(_.id)).runMs
      Map("op_ms" -> op.ms, "self_ms" -> self(op.id),
        "work_wall_ms" -> work.map(_.ms).sum, "work_task_ms" -> workRunMs.toDouble,
        "cores" -> cores.toDouble,
        "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
        "spark.tasks" -> c.tasks.toDouble, "spark.task_ms" -> c.runMs.toDouble,
        "sources.scan_bytes" -> c.scanBytes.toDouble,
        "sources.scan_records" -> c.scanRecords.toDouble,
        "shuffle.write_bytes" -> c.shuffleWrite.toDouble,
        "shuffle.read_bytes" -> c.shuffleRead.toDouble,
        "shuffle.fetch_wait_ms" -> c.fetchWaitMs.toDouble,
        "spill.bytes" -> c.spill.toDouble) ++
        children.map(s => s"phase.${s.name}_ms" -> s.ms) ++ extra.values
    }
  }
}
