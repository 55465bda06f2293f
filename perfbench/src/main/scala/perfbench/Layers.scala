package perfbench

/** The named per-layer metrics: which layer each belongs to, its unit and
  * direction, and the end-to-end metric and workload it should move.
  * `layers.json` is this table written out; BENCHMARK.json's `per_layer`
  * lists the same names, units and directions. */
object Layers {

  /** `workload` is the BENCHMARK.json workload that runs the layer, and on
    * which the metric should move `moves`. */
  final case class Metric(name: String, layer: String, unit: String, better: String,
                          moves: Seq[String], workload: String)

  /** Pipeline layers that report the common set S, in `KgPipeline.run` order.
    * ingest_dup commits into an empty store, so the resume anti-join has
    * nothing to do and is not a layer here. */
  val Pipeline: Seq[String] = Seq("HtmlText", "Dedup",
    "KgPipeline.partition", "Inference", "PostProcess", "Linker", "Linker.fuzzy",
    "Linker.cosine", "Canonicalizer", "Hydrator", "SnapshotStore")

  /** Query groups by name prefix. */
  val QueryGroups: Seq[(String, String)] = Seq("relational" -> "q", "kg" -> "kg_",
    "dedup" -> "dedup_", "sim" -> "sim_", "text" -> "text_", "mm" -> "mm_",
    "events" -> "events_")

  def groupOf(query: String): String =
    QueryGroups.filter { case (_, p) => query.startsWith(p) }
      .maxBy(_._2.length)._1

  private val common = Seq(("wall_s", "s", "lower"), ("cpu_s", "s", "lower"),
    ("shuffle_mb", "MB", "lower"), ("rows_out", "count", "lower"),
    ("task_skew", "ratio", "lower"))

  private val extras: Map[String, Seq[(String, String, String)]] = Map(
    "Dedup" -> Seq(("candidate_pairs", "count", "lower"), ("verified_pairs", "count", "lower"),
      ("pair_yield", "ratio", "higher"), ("drop_ratio", "ratio", "higher")),
    "PostProcess" -> Seq(("triples_per_page", "ratio", "higher"), ("fail_ratio", "ratio", "lower")),
    "Linker" -> Seq(("link_ratio", "ratio", "higher")),
    "Linker.fuzzy" -> Seq(("link_ratio", "ratio", "higher")),
    "Linker.cosine" -> Seq(("link_ratio", "ratio", "higher")),
    "Canonicalizer" -> Seq(("jobs", "count", "lower"), ("clusters", "count", "lower")),
    "SnapshotStore" -> Seq(("files_written", "count", "lower")))

  private val whole = Seq(("jobs", "count", "lower"), ("tasks", "count", "lower"),
    ("driver_idle_s", "s", "lower"), ("trace_overhead", "ratio", "lower"),
    ("leaked_cache_mb", "MB", "lower"), ("fail_ratio", "ratio", "lower"))

  private val queryMetrics = Seq(("wall_s", "s", "lower"), ("jobs", "count", "lower"),
    ("exchanges", "count", "lower"), ("scans", "count", "lower"),
    ("shuffle_mb", "MB", "lower"))

  /** A layer's time and work show in both end-to-end times of its workload. */
  private val moves = Seq("items_per_s", "call_p50_s")

  val all: Seq[Metric] =
    (Pipeline.flatMap(l => (common ++ extras.getOrElse(l, Nil)).map(l -> _)) ++
      whole.map("KgPipeline" -> _)).map { case (l, (n, u, b)) =>
      Metric(s"$l.$n", l, u, b, moves, "ingest_dup")
    } ++
      QueryGroups.flatMap { case (g, _) =>
        queryMetrics.map { case (n, u, b) =>
          Metric(s"query.$g.$n", s"query.$g", u, b, moves, "query_pass")
        }
      }

  def json: String = {
    def q(s: String) = "\"" + s + "\""
    all.map { x =>
      s"""  {"name": ${q(x.name)}, "layer": ${q(x.layer)}, "unit": ${q(x.unit)}, """ +
        s""""better": ${q(x.better)}, "moves": [${x.moves.map(q).mkString(", ")}], """ +
        s""""workload": ${q(x.workload)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
