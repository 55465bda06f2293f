package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.kg._
import graft.sources.SnapshotStore

/** The ingest_dup workload: inputs, bootstrap, output checks and the staged
  * per-layer trace. */
final class Pipeline(spark: SparkSession, seed: Long, work: String) {
  import Pipeline._

  private val dataDir = s"$work/data/ingest_dup/seed=$seed-n=$PageCount"

  // ---- inputs (written once per seed) ----------------------------------------

  lazy val dup: Gen.DupSpec = Gen.dupPages(seed, PageCount, Dims.pinnedStrat.size + BulkStrat)

  lazy val pages: DataFrame = {
    val dir = s"$dataDir/pages"
    if (!Files.exists(dir))
      Gen.write(spark, Pages.fixtures(spark).collect().toSeq ++ dup.pages, Gen.PageSchema, dir, 8)
    spark.read.parquet(dir)
  }

  // ---- bootstrap -------------------------------------------------------------

  /** Session-level engine bootstrap, as `kg.Main --snapshot` does it plus the
    * cached alias and hydration dims the engine accepts prebuilt. */
  def boot(): Boot = {
    val dims = Dims.snapshot(spark, bulkStrat = BulkStrat, bulkMinerals = BulkMinerals).persisted()
    Seq(dims.stratDim, dims.mineralDim, dims.intervalDim, dims.gazetteerDim,
      dims.stratGpsDim, dims.lithDim).foreach(_.count())
    val alias = Linker.aliasDim(dims).cache()
    alias.count()
    val prepared = Hydrator.prepare(dims).cached()
    Seq(prepared.stratKeyed, prepared.mineralKeyed, prepared.gaz, prepared.lithKeyed)
      .foreach(_.count())
    def names(df: DataFrame, c: String) = df.select(c).collect().map(_.getString(0))
    // the stand-in model recognises the seeded surface variants; the alias
    // dictionary does not, so linking them is the alignment tiers' work
    val client = Inference.defaultClient(names(dims.stratDim, "strat_name") ++ dup.variants,
      names(dims.gazetteerDim, "name"), names(dims.mineralDim, "mineral"))
    val cfg = KgPipeline.Config(numPartitions = Partitions,
      prebuiltAlias = Some(alias), preparedDims = Some(prepared),
      promptDicts = Some(Inference.promptDictsFromDims(dims)),
      dedupMinJaccard = Some(0.9), fuzzyAlignMinJaccard = Some(0.6),
      cosineAlignMinSim = Some(0.8))
    client.infer(Seq(Inference.Request("w", "w", Fixtures.ShakopeeText, "en")))
    Boot(dims, alias, prepared, client, cfg)
  }

  private var bootCache: Option[Boot] = None
  def bootOnce: Boot = bootCache.getOrElse { val b = boot(); bootCache = Some(b); b }
  def setBoot(b: Boot): Unit = bootCache = Some(b)

  // ---- stores ------------------------------------------------------------------

  /** An empty store for one call. */
  def freshStore(name: String): String = {
    val dir = s"$work/stores/ingest_dup/$name"
    Files.rm(dir)
    dir
  }

  def triplesOf(store: String): DataFrame =
    SnapshotStore.read(spark, store, "triples").get.select(KgPipeline.TripleColumns.map(col): _*)

  /** Summed `failed_rows` of one lineage stage of a store. */
  def lineageFailed(store: String, stage: String): Long =
    SnapshotStore.read(spark, store, "lineage").get.filter(col("stage") === stage)
      .agg(coalesce(sum("failed_rows"), lit(0L))).collect().head.getLong(0)

  /** Pages that failed infer or parse. */
  def failedPages(store: String): Long =
    lineageFailed(store, "infer") + lineageFailed(store, "parse")

  // ---- checks ----------------------------------------------------------------

  /** Fixture-page precision/recall against the Sauk golden triples, read
    * from the committed snapshot (the KgPipelineSpec definition). */
  def fixturePR(store: String): (Double, Double) = {
    val got = triplesOf(store).filter(col("url") === "https://fixtures.graft/sauk")
      .select("subj_name", "predicate", "obj_name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val want = Fixtures.SaukGoldenTriples
    val tp = got.intersect(want).size.toDouble
    (if (got.isEmpty) 0 else tp / got.size, tp / want.size)
  }

  /** Checks the committed store against what the generator knows, and
    * returns the measured shares:
    *  - the dedup gate drops no more pages than the input's duplicates, at
    *    least `MinDedupRecall` of them (MinHash-LSH misses a pair now and
    *    then by design), and leaves every duplicate cluster a page;
    *  - every exact, upper-case and `Fm.` strat mention resolves to the
    *    dictionary name it was made from, and at least `MinTypoResolved` of
    *    the one-character typos do (a typo can sit as close to a sibling
    *    name that differs only in its digit suffix). */
  def checkTruth(store: String): Map[String, Double] = {
    val truth = dup.truth
    val dropped = lineageFailed(store, "dedup")
    perfbench.Main.check(dropped <= dup.droppable,
      s"dedup dropped $dropped pages, more than the ${dup.droppable} duplicates in the input")
    perfbench.Main.check(dropped >= MinDedupRecall * dup.droppable,
      s"dedup dropped $dropped of ${dup.droppable} duplicate pages, below $MinDedupRecall")
    val resolved: Map[String, Set[String]] = triplesOf(store)
      .filter(col("obj_kind") === "strat").select("url", "obj_final").collect()
      .groupBy(_.getString(0)).map { case (u, rs) => u -> rs.map(_.getString(1)).toSet }
    val kept = resolved.keySet.filter(u => truth.get(u).exists(_.cluster >= 0))
    val lost = truth.values.map(_.cluster).filter(_ >= 0).toSet -- kept.map(truth(_).cluster)
    perfbench.Main.check(lost.isEmpty, s"${lost.size} duplicate clusters have no page with a strat triple left")
    val byKind = kept.toSeq.groupBy(u => truth(u).kind).map { case (k, us) =>
      k -> us.count(u => resolved(u).contains(truth(u).source)).toDouble / us.size }
    val wrong = byKind.filter { case (k, share) => k != "typo" && share < 1.0 }
    perfbench.Main.check(wrong.isEmpty, s"strat mentions not resolved to their dictionary name: $wrong")
    val typo = byKind.getOrElse("typo", 1.0)
    perfbench.Main.check(typo >= MinTypoResolved, f"only $typo%.3f of typo mentions resolved to their source")
    Map("dedup_dropped" -> dropped.toDouble, "dedup_droppable" -> dup.droppable.toDouble,
      "typo_resolved_share" -> typo)
  }

  // ---- staged trace ----------------------------------------------------------

  private val extractUdf = udf((html: Array[Byte]) => HtmlText.extract(html))

  /** `KgPipeline.runAndCommitSnapshot` taken apart: each layer's public
    * function in `KgPipeline.run`'s order, on the previous layer's persisted
    * output, each under its own job group and span. Returns per-layer
    * metrics; the committed store must digest like an untraced call. The
    * store is empty, so the resume anti-join has nothing to remove and is
    * left out. */
  def staged(b: Boot, store: String, probe: TaskProbe, spans: Spans): Map[String, Double] = {
    val cfg = b.cfg
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()
    val cached = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def keep(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK); cached += p; p
    }
    def layer(name: String)(f: => DataFrame): DataFrame = {
      val (df, secs) = spans(spark, name) { val d = keep(f); out(s"$name.rows_out") = d.count(); d }
      out(s"$name.wall_s") = secs
      df
    }
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val minJ = cfg.dedupMinJaccard.get
    var dedupDocs: DataFrame = null

    spans(spark, "KgPipeline") {
      val slim = layer("HtmlText") {
        pages.withColumn("extracted_text", extractUdf(col("html")))
          .withColumn("extract_ok", col("extracted_text") === col("text"))
          .drop("text", "html")
          .withColumnRenamed("extracted_text", "text")
          .withColumn("hashed_text", sha2(col("text"), 256))
      }

      val marked = layer("Dedup") {
        val withId = keep(slim.withColumn("doc_id", xxhash64(col("url"))))
        dedupDocs = withId.select("doc_id", "text")
        val losers = graft.ops.Dedup.dedupe(dedupDocs, minJ, cfg.canonLocalProbe)
          .filter(!col("keep")).select(col("doc_id").as("drop_id"))
        withId.join(losers, withId("doc_id") === losers("drop_id"), "left")
          .withColumn("dedup_keep", col("drop_id").isNull)
          .drop("drop_id", "doc_id")
      }
      val deduped = marked.filter(col("dedup_keep")).drop("dedup_keep")
      out("Dedup.drop_ratio") = 1 - ratio(deduped.count(), out("Dedup.rows_out"))
      val dedupStats = marked.groupBy(spark_partition_id().as("partition_id"))
        .agg(count(lit(1)).as("input_rows"),
          sum(when(col("dedup_keep"), 0L).otherwise(1L)).as("failed_rows"))
        .withColumn("stage", lit("dedup"))
        .withColumn("output_rows", col("input_rows") - col("failed_rows"))

      val extracted = layer("KgPipeline.partition") {
        deduped.repartition(cfg.numPartitions, col("url"))
      }

      val raw = layer("Inference") {
        Inference.run(extracted, b.client, cfg.microBatch, cfg.promptDicts.get).toDF()
      }

      val rawParsed = layer("PostProcess") { PostProcess.withParsed(raw) }
      val parsed = keep(PostProcess.explodeParsed(rawParsed))
      val nParsed = parsed.count()
      out("PostProcess.triples_per_page") = ratio(nParsed, out("PostProcess.rows_out"))
      out("PostProcess.fail_ratio") = ratio(
        rawParsed.filter(col("parse_status") =!= PostProcess.StatusOk).count(),
        out("PostProcess.rows_out"))

      val alias = cfg.prebuiltAlias.get
      def linked(df: DataFrame) = df.filter(col("obj_linked")).count().toDouble
      val aligned0 = layer("Linker") { Linker.align(parsed, alias) }
      val l0 = linked(aligned0)
      out("Linker.link_ratio") = ratio(l0, nParsed)
      val aligned1 = layer("Linker.fuzzy") {
        Linker.alignFuzzy(aligned0, alias, cfg.fuzzyAlignMinJaccard.get, cfg.fuzzyStopGramMaxDf)
      }
      val l1 = linked(aligned1)
      out("Linker.fuzzy.link_ratio") = ratio(l1 - l0, nParsed - l0)
      val aligned = layer("Linker.cosine") {
        Linker.alignCosine(aligned1, alias, cfg.cosineAlignMinSim.get,
          lshPrune = cfg.cosineAlignLshPrune, registerCached = cached += _)
      }
      out("Linker.cosine.link_ratio") = ratio(linked(aligned) - l1, nParsed - l1)

      val canonical = layer("Canonicalizer") { Canonicalizer(aligned, cfg.canonLocalProbe) }
      out("Canonicalizer.clusters") =
        canonical.select("entity_cluster_id").distinct().count().toDouble

      val triples = layer("Hydrator") {
        Hydrator.hydratePrepared(canonical, cfg.preparedDims.get, cfg.jobStart)
          .select(KgPipeline.TripleColumns.map(col): _*)
      }

      val lineage = lineageOf(extracted, rawParsed, triples, dedupStats, cfg)
      val failedUrls = rawParsed.filter(col("parse_status") =!= PostProcess.StatusOk)
        .select(col("url"), PostProcess.failedStage(col("parse_status")).as("failed_stage"))
      val (_, commitS) = spans(spark, "SnapshotStore") {
        SnapshotStore.commit(spark, store, Map(
          "triples" -> triples.withColumn("url_bucket", KgPipeline.urlBucket(col("url"))),
          "lineage" -> lineage,
          "done" -> pages.select("url").join(broadcast(failedUrls), Seq("url"), "left_anti")
            .withColumn("url_bucket", KgPipeline.urlBucket(col("url")))),
          partitionBy = Map("triples" -> Seq("url_bucket"), "done" -> Seq("url_bucket")))
      }
      val after = SnapshotStore.readSnapshot(spark, store, SnapshotStore.currentVersion(spark, store))
      out("SnapshotStore.wall_s") = commitS
      out("SnapshotStore.rows_out") = triples.count().toDouble
      out("SnapshotStore.files_written") = after.tables.values.map(_.size).sum
    }

    // the gate's pair counts, outside every span: Dedup.dedupe does not
    // expose them, so its stages run again here, untimed
    val docsTok = keep(graft.ops.Dedup.docTokens(dedupDocs))
    val cands = keep(graft.ops.Dedup.minhashCandidatesToks(docsTok))
    out("Dedup.candidate_pairs") = cands.count().toDouble
    out("Dedup.verified_pairs") = graft.ops.Dedup.jaccardToks(docsTok, cands, minJ).count().toDouble
    out("Dedup.pair_yield") = ratio(out("Dedup.verified_pairs"), out("Dedup.candidate_pairs"))

    cached.foreach(_.unpersist(true))
    TaskProbe.drain(spark)
    for (l <- Layers.Pipeline; (k, v) <- probe.layerStats(l)) out(s"$l.$k") = v
    out("Canonicalizer.jobs") = probe.jobs(_ == "Canonicalizer")
    out.toMap
  }
}

object Pipeline {
  /** The engine bootstrap one run's calls share. */
  final case class Boot(dims: Dims.Snapshot, alias: DataFrame, prepared: Hydrator.Prepared,
                        client: Inference.InferenceClient, cfg: KgPipeline.Config) {
    def release(): Unit = {
      alias.unpersist(true); prepared.unpersist()
      Seq(dims.stratDim, dims.mineralDim, dims.intervalDim, dims.gazetteerDim,
        dims.stratGpsDim, dims.lithDim).foreach(_.unpersist(true))
    }
  }

  /** Url-hash partitions of a call (and shuffle partitions): one per core.
    * Every commit writes one file per (partition, url bucket), so on a small
    * host `kg.Main`'s default of 32 turns the commit into thousands of tiny
    * files. */
  val Partitions: Int = Runtime.getRuntime.availableProcessors()
  val PageCount = 1000
  /** The dictionary: the pinned rows plus this many synthetic ones. */
  val BulkStrat = 2000
  val BulkMinerals = 200
  val MinDedupRecall = 0.95
  val MinTypoResolved = 0.5

  /** `KgPipeline.run`'s lineage rows, rebuilt from the staged frames. A copy
    * of the engine's code: no public function builds them on their own. */
  def lineageOf(extracted: DataFrame, rawParsed: DataFrame, triples: DataFrame,
                dedupStats: DataFrame, cfg: KgPipeline.Config): DataFrame = {
    val pageStats = extracted.groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("input_rows"),
        sum(when(col("extract_ok"), 0L).otherwise(1L)).as("failed_rows"))
      .withColumn("stage", lit("extract"))
      .withColumn("output_rows", col("input_rows") - col("failed_rows"))
    val ip = rawParsed.groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("n_in"),
        sum(when(col("parse_status") === PostProcess.StatusInferFailed, 1L).otherwise(0L))
          .as("n_infer_failed"),
        sum(when(col("parse_status") === PostProcess.StatusParseFailed, 1L).otherwise(0L))
          .as("n_parse_failed"))
    val infer = ip.select(lit("infer").as("stage"), col("partition_id"),
      col("n_in").as("input_rows"), (col("n_in") - col("n_infer_failed")).as("output_rows"),
      col("n_infer_failed").as("failed_rows"))
    val parse = ip.select(lit("parse").as("stage"), col("partition_id"),
      (col("n_in") - col("n_infer_failed")).as("input_rows"),
      (col("n_in") - col("n_infer_failed") - col("n_parse_failed")).as("output_rows"),
      col("n_parse_failed").as("failed_rows"))
    val trip = triples.groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("output_rows"))
      .withColumn("stage", lit("triples"))
      .withColumn("input_rows", lit(null).cast("long"))
      .withColumn("failed_rows", lit(0L))
    pageStats.unionByName(infer).unionByName(parse).unionByName(trip).unionByName(dedupStats)
      .withColumn("job_start", lit(cfg.jobStart))
      .select("stage", "partition_id", "input_rows", "output_rows", "failed_rows", "job_start")
  }
}
