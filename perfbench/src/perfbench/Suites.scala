package perfbench

import graft.Tables.QueryDef

/** The query layers: each `SparkEntry.queries` entry belongs to the module
 *  whose object lists it in its public `defs`. */
object Suites {

  val Modules: Seq[(String, Seq[QueryDef])] = {
    import graft.operators._
    Seq(
      "operators.relational" -> (RelationalQueries.defs ++ RelationalQueries2.defs ++
        AsofAndSketch.defs ++ JoinsAndSetOps.defs ++ SessionAndSkew.defs ++ SweepSkyline.defs),
      "operators.graph" -> GraphOps.defs,
      "operators.text" -> (TextQueries.defs ++ TrainingOps.defs),
      "operators.pipeline" -> CurationPipeline.defs,
      "operators.schemer" -> SchemerQueries.defs,
      "dedup" -> graft.dedup.Dedup.defs,
      "similarity" -> graft.similarity.Ann.defs,
      "multimodal" -> graft.multimodal.Media.defs,
      "streaming" -> graft.streaming.EventStreams.defs,
      "sources" -> graft.sources.Sinks.defs)
  }

  val ModuleNames: Seq[String] = Modules.map(_._1)

  lazy val moduleOf: Map[String, String] =
    Modules.flatMap { case (m, defs) => defs.map(_.name -> m) }.toMap

  /** `suite_sf0.01`: one query per module, two from the relational module
   *  (94 of the 249 queries). Each is the module's query nearest its median
   *  sf0.1 time on 4 cores, passing over queries whose first call in a
   *  fresh JVM builds a shared per-corpus artifact for many seconds (the
   *  dedup shingle index). The streaming module is left out: its 14 queries
   *  share one replay of the event stream that takes about 27 s to build in
   *  a fresh JVM, more than a whole run may take. */
  val Sample: Seq[String] = Seq(
    "q3_shipping_priority", "q51_dq_rules", "graph_assortativity", "text_fuzzy_join",
    "pipeline_clean_corpus", "schema_columns", "dedup_fingerprint", "embed_power_iteration",
    "media_audio_loudness", "sink_csv_roundtrip").sorted

  /** Modules the sample measures, in [[Modules]] order. */
  val Measured: Seq[String] = ModuleNames.filter(m => Sample.exists(q => moduleOf(q) == m))
}
