package graft.core

/** dbt-artifact parity for [[ModelRegistry.run]] (SURVEY §3: `dbt run` emits
  * `target/manifest.json` at compile time and `target/run_results.json`
  * after execution — reference logs/dbt.log:398-404). Tooling that watches
  * a dbt project reads exactly these two files, so the engine writes the
  * same shapes: a node graph with dependency edges, and per-node
  * status/rows/timing, rendered by hand (tiny, dependency-free) from a
  * finished run. Only [[rowCounts]] runs Spark jobs, one count per model.
  */
object Artifacts {

  private[graft] def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** The DAG as a manifest: every registered model with its dependency
    * edges, in topological order (the reference's graph_summary is the
    * same information).
    */
  def manifestJson(reg: ModelRegistry): String = {
    val nodes = reg.topoOrder.map { m =>
      val deps = m.deps.map(d => "\"" + esc(d) + "\"").mkString("[", ",", "]")
      s"""    {"name": "${esc(m.name)}", "depends_on": $deps}"""
    }
    "{\n  \"nodes\": [\n" + nodes.mkString(",\n") + "\n  ]\n}\n"
  }

  // Locale.ROOT: the default locale may format decimals with a comma,
  // which would make the emitted JSON unparseable
  private def sec(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Rows of every model that built, counted after the run (one job
    * each), for the run_results `rows` field.
    */
  def rowCounts(run: ModelRegistry.Run): Map[String, Long] =
    run.results.collect {
      case r if r.status == "success" => r.name -> run.built(r.name).count()
    }.toMap

  /** Per-model status/rows/seconds; `elapsed_time` is the run's wall time,
    * which is less than the sum of node times once models overlap.
    */
  def runResultsJson(run: ModelRegistry.Run, rows: Map[String, Long]): String = {
    val rs = run.results.map { r =>
      val err = r.error.map { e =>
        s""", "message": "${esc(Option(e.getMessage).getOrElse(e.getClass.getName))}""""
      }.getOrElse("")
      s"""    {"name": "${esc(r.name)}", "status": "${r.status}", "rows": ${rows.getOrElse(r.name, 0L)}, "execution_time": ${sec(r.seconds)}$err}"""
    }
    s"""{\n  "elapsed_time": ${sec(run.seconds)},\n  "results": [\n""" +
      rs.mkString(",\n") + "\n  ]\n}\n"
  }

  def writeTargetDir(dir: String, reg: ModelRegistry, run: ModelRegistry.Run,
      rows: Map[String, Long]): Unit = {
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(p)
    java.nio.file.Files.write(p.resolve("manifest.json"),
      manifestJson(reg).getBytes("UTF-8"))
    java.nio.file.Files.write(p.resolve("run_results.json"),
      runResultsJson(run, rows).getBytes("UTF-8"))
  }
}
