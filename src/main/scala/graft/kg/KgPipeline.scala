package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end KG construction (BASELINE.json north_rule; SURVEY.md §3.3):
  *
  *   pages → [bucket shard + resume anti-join] → html→text extract
  *   → [dedup gate] → repartition(hash(url)) → batched inference
  *   (mapPartitions) → lenient parse/explode → alignment tiers
  *   → connected-components canonicalization → hydration joins
  *   → triples table [+ RDF materialization] + per-partition lineage rows
  *   → one atomic snapshot commit (graft.sources.SnapshotStore); the
  *   triples and done tables stage one file per url_bucket per commit.
  *
  * Each per-page step is a plain function here ([[extract]],
  * [[inferParsed]], [[alignTiers]], [[uncanonicalized]], [[hydrate]],
  * [[failedUrls]], [[dedupLosers]]); [[run]] chains them for a batch, and
  * the streaming skin (graft.streaming.StreamingKg) calls the same
  * functions per micro-batch and for its failed-url re-drive.
  *
  * Scale posture (designed for 10^12 pages / 1000 executors, tested at
  * local[N]):
  *  - one explicit url-hash repartition up front; every later stage either
  *    preserves partitioning (narrow) or shuffles on aggregation keys,
  *  - all enrichment joins broadcast dictionary-sized dims — zero shuffle
  *    of the page-cardinality side,
  *  - resume is a left_anti join against the store's committed `done`
  *    table (SURVEY J1, [[runAndCommitSnapshot]]): re-running after failure
  *    processes only missing urls, and because every stage is
  *    deterministic the union of runs equals one clean run,
  *  - lineage/metrics are per-partition rows computed from
  *    spark_partition_id() — no driver-side collections of data rows.
  */
object KgPipeline {

  /** Url-hash bucket count shared by the triples and done staging layout
    * and the bucket-sharded resume mode (the stand-in for an Iceberg
    * `bucket(url)` partition transform). */
  val UrlBuckets = 64

  /** The bucket of a url — MUST match the sink partitioning everywhere. */
  def urlBucket(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(url), lit(UrlBuckets))

  final case class Config(
      numPartitions: Int = 32,
      microBatch: Int = 200,
      saltedAlign: Boolean = false,
      saltBuckets: Int = 16,
      // Some(minJaccard) => tier-2 fuzzy alignment (Linker.alignFuzzy):
      // names tier-1 leaves unlinked get a char-3-gram Jaccard argmax
      // against the dictionary — the deterministic stand-in for the
      // reference's sub-normalization embedding matches
      // (alignment.py:110-119). Off by default: it links strictly more
      // than normalization equality, so turning it on changes outputs.
      fuzzyAlignMinJaccard: Option[Double] = None,
      // Some(cap) => drop dictionary grams with document frequency > cap
      // from tier-2 candidate generation (Linker.alignFuzzy stop-gram
      // lever; scoring stays exact). Only read when fuzzyAlignMinJaccard
      // is set.
      fuzzyStopGramMaxDf: Option[Int] = None,
      // Some(minSim) => tier-3 cosine alignment (Linker.alignCosine): names
      // still unlinked after the earlier tiers get the reference's own kNN
      // geometry — argmax cosine against the broadcast known-entity
      // embedding matrix, swap iff sim >= minSim (alignment.py:110-119,
      // under the deterministic hashed-gram embedding). Off by default for
      // the same reason as the fuzzy tier.
      cosineAlignMinSim: Option[Double] = None,
      // Some((planes, bands)) => tier-3 scores only hyperplane-LSH
      // candidates instead of the full dictionary matrix (Linker
      // .cosineLshCandidates) — the lever for a dictionary past broadcast
      // size. Approximate (recall-only; emitted sims stay exact), so off
      // by default; recall/cost trade in PLANS.md round 5. Only read when
      // cosineAlignMinSim is set.
      cosineAlignLshPrune: Option[(Int, Int)] = None,
      canonicalize: Boolean = true,
      // false => entity space is known-unbounded (open-vocabulary web
      // extraction): go straight to distributed CC, skip the driver probe.
      canonLocalProbe: Boolean = true,
      // Some(minJaccard) => corpus dedup gate BEFORE extraction work is
      // spent on duplicates (the standard training-data gate): MinHash-LSH
      // candidates → candidate-restricted Jaccard → CC resolution over the
      // extracted text; only each duplicate cluster's min-id winner flows
      // into inference. Drops are counted in the lineage `dedup` stage.
      dedupMinJaccard: Option[Double] = None,
      // true (default): pin `broadcast(done)` on the resume anti-join —
      // optimal while the done-set fits in driver/executor memory. false:
      // plain left_anti and let AQE size the build side — the scale path
      // once `done` approaches page cardinality (10^12 urls cannot be a
      // pinned broadcast; AQE still picks broadcast while it fits, and
      // demotes to shuffle join when it does not). Mirrors the
      // Hydrator.hydratePrepared(broadcastDims) duality. The same choice
      // governs the failed-url exclusion and StreamingKg.redriveFailed's
      // target set.
      broadcastDone: Boolean = true,
      // Some(buckets) => bucket-sharded operation (the 10^12-url resume
      // shape PLANS.md round-4 named): [[runAndCommitSnapshot]] processes
      // ONLY pages whose url bucket (pmod(xxhash64(url), 64) — the same
      // transform the triples/done tables stage by) is in the set, and the
      // done-set read prunes to exactly those buckets' files at the
      // manifest (no full done-set IO, and the per-shard done subset is
      // 1/64th, so the anti-join stays a broadcast with no exchange of the
      // page side long after the FULL done-set outgrew broadcast). Scope:
      // sharding is exact for the per-page stages (resume, extract, infer,
      // parse, align, hydrate — all per-url or broadcast-dim work). The
      // corpus-GLOBAL stages see only the shard: canonicalization clusters
      // within the shard (a cross-shard surface-variant pair collapses at
      // the periodic compaction pass, exactly like the streaming path) and
      // the dedupMinJaccard gate dedups within the shard only — run the
      // corpus dedup BEFORE sharding when exact global dedup matters, or
      // StreamingKg.compactDedup after. Union-of-shards parity is tested
      // on the default config's per-page path; None = process everything.
      // [[run]] itself never reads it.
      buckets: Option[Seq[Int]] = None,
      emitRdf: Boolean = false,
      jobStart: java.sql.Timestamp = java.sql.Timestamp.valueOf("2024-06-01 00:00:00"),
      // Prebuilt bootstrap artifacts (dictionary dedup windows, alias
      // normalization) — build + cache once per job, reuse across runs.
      prebuiltAlias: Option[DataFrame] = None,
      preparedDims: Option[Hydrator.Prepared] = None,
      // Prompt stage (SURVEY P2; reference: text2graph/llm.py:281-311):
      // handlers whose known-entity system prompts are built per page
      // before the client call. None => derive both reference handlers'
      // dictionaries from the dim snapshot (one driver-side collect of the
      // dictionary columns — bootstrap, not per-page work); Some(Seq())
      // disables prompting.
      promptDicts: Option[Seq[Inference.HandlerDict]] = None)

  final case class Result(
      triples: DataFrame,
      lineage: DataFrame,
      rdf: Option[Dataset[Model.RdfTriple]],
      // (url, failed_stage) rows for pages that failed the infer or parse
      // stage (failed_stage = "infer": empty raw after retry exhaustion;
      // "parse": unsalvageable model output) — the per-doc failure state
      // the reference keeps as "NA" placeholder rows
      // (chtc/preprocess_extraction_direct.py:99-110).
      // [[runAndCommitSnapshot]] EXCLUDES these from the done table, so a
      // failed page is re-driven by the next run instead of being silently
      // marked done with zero triples.
      failedUrls: DataFrame,
      // Unpersists this run's cached intermediates (dedup marks, parsed,
      // aligned). Call AFTER all outputs have materialized — a long-lived
      // session (e.g. one SparkSession serving many runs) leaks the cached
      // frames otherwise; [[runAndCommitSnapshot]] calls it for you.
      cleanup: () => Unit = () => ())

  /** Columns of the output triples table (FIXTURES.md §5). */
  val TripleColumns: Seq[String] = Seq(
    "url", "hashed_text", "model_id", "prompt_version",
    "subj_name", "subj_lat", "subj_lon",
    "predicate", "obj_name", "obj_canonical", "obj_final", "obj_kind",
    "obj_linked", "entity_cluster_id",
    "strat_name", "strat_name_long", "rank", "strat_name_id", "concept_id",
    "b_age", "t_age", "b_period", "t_period",
    "mineral", "mineral_id", "mineral_type", "formula", "formula_source",
    "elements",
    "lith", "lith_id", "lith_type", "lith_group", "lith_class",
    "provenance", "requested_at")

  private val extractUdf = udf((html: Array[Byte]) => HtmlText.extract(html))

  /** Extract stage: html → text plus `hashed_text` (the invariant-bearing
    * step; input_hint demands byte-identical text per url). Drops `html`
    * and the golden `text` column straight away: they would otherwise ride
    * the url repartition, the only page-cardinality shuffle there is.
    * `extract_ok` compares against the golden text when the input carries
    * one (direct byte equality — hashing both sides would cost two extra
    * sha256 passes per page for the same answer). */
  def extract(pages: DataFrame): DataFrame = {
    val extracted = pages.withColumn("extracted_text", extractUdf(col("html")))
    (if (pages.columns.contains("text"))
      extracted.withColumn("extract_ok", col("extracted_text") === col("text"))
    else extracted.withColumn("extract_ok", lit(true)))
      .drop("text", "html")
      .withColumnRenamed("extracted_text", "text")
      .withColumn("hashed_text", sha2(col("text"), 256))
  }

  /** Prompt → batched inference → lenient parse (P2, B2/B3, P3-P5): the
    * PRE-explode frame, one row per page with its `parse_status`.
    * `promptDicts = None` derives both reference handlers' dictionaries
    * from the dim snapshot (Config.promptDicts). */
  def inferParsed(extracted: DataFrame, dims: Dims.Snapshot,
                  client: Inference.InferenceClient, microBatch: Int,
                  promptDicts: Option[Seq[Inference.HandlerDict]]): DataFrame = {
    val prompting = promptDicts.getOrElse(Inference.promptDictsFromDims(dims))
    PostProcess.withParsed(
      Inference.run(extracted, client, microBatch, prompting).toDF())
  }

  /** J2: alignment tiers as `cfg` selects them — tier 1 (broadcast or
    * salted), then the optional fuzzy and cosine tiers. Long-running
    * callers pass the tiers' derived dictionaries prebuilt (Linker
    * .fuzzyDict / stopGrams / cosineDict) so they are not re-derived per
    * call; `registerCached` receives every frame the cosine LSH-prune path
    * persists, for the caller to release. */
  def alignTiers(parsed: DataFrame, alias: DataFrame, cfg: Config,
                 fuzzyDict: Option[DataFrame] = None,
                 stopGrams: Option[DataFrame] = None,
                 cosineDict: Option[DataFrame] = None,
                 registerCached: DataFrame => Unit = _ => ()): DataFrame = {
    val tier1 =
      if (cfg.saltedAlign) Linker.alignSalted(parsed, alias, cfg.saltBuckets)
      else Linker.align(parsed, alias)
    val tier2 = cfg.fuzzyAlignMinJaccard
      .map(Linker.alignFuzzy(tier1, alias, _, cfg.fuzzyStopGramMaxDf,
        prebuiltDict = fuzzyDict, prebuiltStopGrams = stopGrams))
      .getOrElse(tier1)
    cfg.cosineAlignMinSim
      .map(Linker.alignCosine(tier2, alias, _, lshPrune = cfg.cosineAlignLshPrune,
        prebuiltDict = cosineDict, registerCached = registerCached))
      .getOrElse(tier2)
  }

  /** Canonicalization switched off: every name is its own cluster
    * (`obj_final = obj_canonical`). The streaming paths use it until
    * StreamingKg.compactCanonicalize runs the corpus-global step. */
  def uncanonicalized(aligned: DataFrame): DataFrame =
    aligned.withColumn("obj_final", col("obj_canonical"))
      .withColumn("entity_cluster_id", xxhash64(col("obj_kind"), col("obj_canonical")))

  /** J3: hydration joins, projected to the triples table's columns. */
  def hydrate(canonical: DataFrame, prepared: Hydrator.Prepared,
              jobStart: java.sql.Timestamp): DataFrame =
    Hydrator.hydratePrepared(canonical, prepared, jobStart)
      .select(TripleColumns.map(col): _*)

  /** (url, failed_stage) for the pages of an [[inferParsed]] frame whose
    * infer or parse failed (Result.failedUrls). */
  def failedUrls(rawParsed: DataFrame): DataFrame =
    rawParsed.filter(col("parse_status") =!= PostProcess.StatusOk)
      .select(col("url"),
        PostProcess.failedStage(col("parse_status")).as("failed_stage"))

  /** Content-derived doc ids for the dedup gate: `doc_id = xxhash64(url)`. */
  def withDocId(docs: DataFrame): DataFrame =
    docs.withColumn("doc_id", xxhash64(col("url")))

  /** The corpus dedup gate's loser set: one `drop_id` row per doc (of a
    * [[withDocId]] frame carrying `text`) that is not its duplicate
    * cluster's winner (MinHash-LSH candidates → candidate-restricted
    * Jaccard → CC resolution, graft.ops.Dedup.dedupe; winner = cluster-min
    * doc_id). Duplicate-cluster members only — tiny next to the corpus, so
    * joins against it broadcast under AQE. Dedup.dedupe scans the docs
    * several times; callers persist them. */
  def dedupLosers(docs: DataFrame, minJaccard: Double, localProbe: Boolean): DataFrame =
    graft.ops.Dedup.dedupe(docs.select("doc_id", "text"), minJaccard, localProbe)
      .filter(!col("keep")).select(col("doc_id").as("drop_id"))

  /** The batch chain over `pages`, uncommitted. Every page is processed:
    * resume and bucket sharding belong to [[runAndCommitSnapshot]]. */
  def run(spark: SparkSession, pages: DataFrame, dims: Dims.Snapshot,
          client: Inference.InferenceClient, cfg: Config = Config()): Result = {
    val slim = extract(pages)

    // Optional corpus dedup gate (training-data hygiene): runs on the
    // extracted text BEFORE any inference tokens are spent on duplicates.
    // Both frames persist: `withId` because the gate scans the docs several
    // times (minhash tokens, Jaccard tokens, sizes), `marked` because the
    // lineage stats and the downstream pipeline each consume it.
    val (deduped, dedupStats, dedupCached) = cfg.dedupMinJaccard match {
      case Some(minJ) =>
        val withId = withDocId(slim)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val losers = dedupLosers(withId, minJ, cfg.canonLocalProbe)
        val marked = withId
          .join(losers, withId("doc_id") === losers("drop_id"), "left")
          .withColumn("dedup_keep", col("drop_id").isNull)
          .drop("drop_id", "doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val stats = marked
          .groupBy(spark_partition_id().as("partition_id"))
          .agg(count(lit(1)).as("input_rows"),
            sum(when(col("dedup_keep"), 0L).otherwise(1L)).as("failed_rows"))
          .withColumn("stage", lit("dedup"))
          .withColumn("output_rows", col("input_rows") - col("failed_rows"))
        (marked.filter(col("dedup_keep")).drop("dedup_keep"), Some(stats),
          Seq(withId, marked))
      case None => (slim, None, Seq.empty[DataFrame])
    }

    // B1: explicit url-hash partitioning of the slim rows — the unit of
    // downstream work distribution + lineage.
    val extracted = deduped.repartition(cfg.numPartitions, col("url"))

    // The PRE-explode frame is the persisted stage boundary — the
    // downstream triple chain explodes it, and the infer/parse failure
    // bookkeeping (lineage stages + Result.failedUrls) reads its
    // parse_status column, all off one cache; without a persist every
    // action would re-run extract+inference+parse from the scan (the
    // reference commits exactly this intermediate to its cache table,
    // chtc/db.py:56-66). Disk-backed so it degrades gracefully when the
    // raw set outgrows executor memory at scale.
    val rawParsed = inferParsed(extracted, dims, client, cfg.microBatch, cfg.promptDicts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // tier-3's LSH-prune path persists its probe/dict subtrees; collect
    // them here so Result.cleanup releases them with the run's other caches
    val tierCached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val aligned = alignTiers(PostProcess.explodeParsed(rawParsed),
        cfg.prebuiltAlias.getOrElse(Linker.aliasDim(dims)), cfg,
        registerCached = tierCached += _)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // CC canonicalization over the candidate-pair edges.
    val canonical =
      if (cfg.canonicalize) Canonicalizer(aligned, cfg.canonLocalProbe)
      else uncanonicalized(aligned)

    val prepared = cfg.preparedDims.getOrElse(Hydrator.prepare(dims))
    val triples = hydrate(canonical, prepared, cfg.jobStart)

    // Lineage/metrics: one row per partition per stage (replaces the
    // reference's job_id bookkeeping + "NA" failure placeholders,
    // chtc/db.py:26-66).
    val pageStats = extracted
      .groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("input_rows"),
           sum(when(col("extract_ok"), 0L).otherwise(1L)).as("failed_rows"))
      .withColumn("stage", lit("extract"))
      .withColumn("output_rows", col("input_rows") - col("failed_rows"))
    // Infer + parse failure stages (the reference's per-doc "NA" failure
    // bookkeeping, preprocess_extraction_direct.py:99-110): ONE aggregation
    // over the persisted pre-explode frame yields both stage rows — a page
    // with an empty raw failed `infer` (retry exhaustion is deterministic
    // downstream of TransportClient's empty-raw degradation); a page whose
    // non-empty raw yields no triplet list failed `parse`. A
    // legitimately-empty page (valid JSON, zero triplets) fails neither —
    // the distinction the raw-count bookkeeping alone cannot make.
    val inferParse = rawParsed
      .groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("n_in"),
        sum(when(col("parse_status") === PostProcess.StatusInferFailed, 1L)
          .otherwise(0L)).as("n_infer_failed"),
        sum(when(col("parse_status") === PostProcess.StatusParseFailed, 1L)
          .otherwise(0L)).as("n_parse_failed"))
    val inferStats = inferParse.select(
      lit("infer").as("stage"), col("partition_id"),
      col("n_in").as("input_rows"),
      (col("n_in") - col("n_infer_failed")).as("output_rows"),
      col("n_infer_failed").as("failed_rows"))
    val parseStats = inferParse.select(
      lit("parse").as("stage"), col("partition_id"),
      (col("n_in") - col("n_infer_failed")).as("input_rows"),
      (col("n_in") - col("n_infer_failed") - col("n_parse_failed")).as("output_rows"),
      col("n_parse_failed").as("failed_rows"))
    val tripleStats = triples
      .groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("output_rows"))
      .withColumn("stage", lit("triples"))
      .withColumn("input_rows", lit(null).cast("long"))
      .withColumn("failed_rows", lit(0L))
    val lineage = dedupStats.foldLeft(
        pageStats.unionByName(inferStats).unionByName(parseStats)
          .unionByName(tripleStats))(
        (acc, d) => acc.unionByName(d))
      .withColumn("job_start", lit(cfg.jobStart))
      .select("stage", "partition_id", "input_rows", "output_rows",
              "failed_rows", "job_start")

    // RDF reads hydration columns the triples table does not keep
    val rdf = if (cfg.emitRdf) Some(Rdf.fromHydrated(
      Hydrator.hydratePrepared(canonical, prepared, cfg.jobStart), dims)) else None
    val cached = dedupCached ++ tierCached :+ rawParsed :+ aligned
    Result(triples, lineage, rdf, failedUrls(rawParsed),
      () => cached.foreach(_.unpersist(blocking = false)))
  }

  /** Run + snapshot-commit — the pipeline's one commit and resume path:
    * triples, lineage and the resume `done` set publish in ONE atomic
    * snapshot (graft.sources.SnapshotStore — the Iceberg-commit stand-in).
    * A crash anywhere here leaves the store exactly at the previous
    * snapshot: no partial data, no done-urls without data, and a re-run
    * converges to the same final table (exactly-once with deterministic
    * stages). Returns the committed version. */
  def runAndCommitSnapshot(spark: SparkSession, pages: DataFrame, dims: Dims.Snapshot,
                           client: Inference.InferenceClient, tableDir: String,
                           cfg: Config = Config()): Int = {
    val todo = pending(spark, pages, tableDir, cfg)
    val res = run(spark, todo, dims, client, cfg)
    // Urls that FAILED infer or parse this run stay out of `done`, so the
    // next run's resume anti-join re-drives them (the reference's
    // re-drivable "NA" placeholder semantics; with a deterministic client
    // they fail again, with a healed transport they heal). Both url-keyed
    // tables stage url_bucket-partitioned, so every later sharded run (and
    // url point lookup) prunes at the manifest.
    val snap = graft.sources.SnapshotStore.commit(spark, tableDir, Map(
      "triples" -> res.triples.withColumn("url_bucket", urlBucket(col("url"))),
      "lineage" -> res.lineage,
      "done" -> todo.select("url")
        .join(urlSet(res.failedUrls, cfg), Seq("url"), "left_anti")
        .withColumn("url_bucket", urlBucket(col("url")))),
      partitionBy = Map("triples" -> Seq("url_bucket"),
        "done" -> Seq("url_bucket")))
    res.cleanup()
    snap
  }

  /** Resume and bucket scoping, the one place either happens: the pages of
    * the configured shard (Config.buckets) that the store's `done` table
    * does not list yet — a left_anti join, FIRST, so done pages are pruned
    * before any per-page work. In bucket-sharded mode the store's
    * url_bucket=N/ staging layout lets the MANIFEST prune the done file list
    * to the shard's buckets before any IO. Files from pre-partitioning
    * snapshots carry no path marker and are kept (then row-filtered);
    * pruning is the IO saver, the bucket row predicate stays the
    * correctness filter either way. */
  private[graft] def pending(spark: SparkSession, pages: DataFrame, tableDir: String,
                             cfg: Config): DataFrame = {
    import graft.sources.SnapshotStore
    def inShard(df: DataFrame): DataFrame = cfg.buckets match {
      case Some(bs) => df.filter(urlBucket(col("url")).isin(bs.map(_.toLong): _*))
      case None => df
    }
    val done = cfg.buckets match {
      case Some(bs) =>
        val markers = bs.map(b => s"url_bucket=$b/")
        SnapshotStore.readPruned(spark, tableDir, "done",
          f => !f.contains("url_bucket=") || markers.exists(f.contains))
      case None => SnapshotStore.read(spark, tableDir, "done")
    }
    done.foldLeft(inShard(pages))((todo, d) =>
      todo.join(urlSet(inShard(d.select("url")), cfg), Seq("url"), "left_anti"))
  }

  /** A url set as a join build side: pinned broadcast (Config.broadcastDone,
    * the default — unbeatable while it fits) or un-hinted for AQE sizing
    * (the page-cardinality scale path — an explicit hint cannot be demoted
    * by AQE). */
  private[graft] def urlSet(urls: DataFrame, cfg: Config): DataFrame =
    if (cfg.broadcastDone) broadcast(urls) else urls

  /** Small-file compaction for a KG snapshot store (the
    * `rewrite_data_files` maintenance job): every [[runAndCommitSnapshot]]
    * run and every streaming micro-batch APPENDS files, so a long-lived
    * store's manifest file list — and with it scan planning and per-file
    * open cost — grows without bound even at stable data volume. This
    * rewrites the store's current content into a compact file set in one
    * replace-mode snapshot: the url-keyed tables re-establish the
    * `url_bucket=N/` layout (recomputed from `url` — the file data cannot
    * carry it, staging strips partition columns) at one file per bucket
    * (the commit's distribution rule), so manifest pruning keeps working;
    * log tables (lineage, failed) coalesce to a bounded count. Row sets
    * are byte-identical — pure layout maintenance, schedule-composable;
    * [[graft.sources.SnapshotStore.expireSnapshots]] reclaims the replaced
    * files. */
  def compactStoreFiles(spark: SparkSession, tableDir: String): Option[Int] = {
    def bucketed(table: String)(df: DataFrame): (DataFrame, Seq[String]) =
      stageBucketLayout(spark, tableDir, table, df) match {
        case (d, Seq()) => (d.coalesce(8), Seq.empty)
        case partitioned => partitioned // the commit distributes on url_bucket
      }
    graft.sources.SnapshotStore.rewriteTables(spark, tableDir,
      Seq("triples", "done", "lineage", "failed"),
      stage = Map("triples" -> bucketed("triples") _,
        "done" -> bucketed("done") _))
  }

  /** Decide a url-keyed store table's rewrite staging layout from the
    * MANIFEST, not the read schema. A mixed store (old flat files carrying
    * url_bucket as a data column + new Hive-partitioned files without it)
    * resolves its merged read schema from whichever file Spark samples
    * first — schema-based detection would then either persist NULL buckets
    * or silently drop the layout. Manifest rule instead:
    *  - any `url_bucket=` path marker ⇒ the store is on (or migrating to)
    *    the partitioned layout: recompute the bucket from `url` (dropping
    *    a stale data column if the merged schema surfaced one) and stage
    *    partitioned — mixed stores CONVERGE to the pure layout;
    *  - no markers and the data carries url_bucket ⇒ pure legacy store:
    *    keep the schema byte-stable, no partitioning;
    *  - no url column at all ⇒ not url-keyed, stage as-is. */
  private[graft] def stageBucketLayout(spark: SparkSession, dir: String,
      table: String, df: DataFrame): (DataFrame, Seq[String]) = {
    val hasMarkers = graft.sources.SnapshotStore
      .fileCount(spark, dir, table, _.contains("url_bucket=")) > 0
    if (!df.columns.contains("url")) (df, Seq.empty)
    else if (!hasMarkers && df.columns.contains("url_bucket")) (df, Seq.empty)
    else {
      val clean =
        if (df.columns.contains("url_bucket")) df.drop("url_bucket") else df
      (clean.withColumn("url_bucket", urlBucket(col("url"))), Seq("url_bucket"))
    }
  }
}
