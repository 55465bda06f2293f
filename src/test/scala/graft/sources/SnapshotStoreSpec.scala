package graft.sources

import graft.SparkSpec
import graft.kg._
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class SnapshotStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("commit/read roundtrip; appends union across versions; time travel") {
    val dir = tmp("snap")
    val v1 = SnapshotStore.commit(spark, dir,
      Map("t" -> Seq((1L, "a"), (2L, "b")).toDF("id", "v")))
    assert(v1 === 1)
    val v2 = SnapshotStore.commit(spark, dir,
      Map("t" -> Seq((3L, "c")).toDF("id", "v")))
    assert(v2 === 2)
    val latest = SnapshotStore.read(spark, dir, "t").get
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(latest === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // time travel: v1 sees only the first commit
    val old = SnapshotStore.read(spark, dir, "t", Some(1)).get
      .collect().map(_.getLong(0)).toSet
    assert(old === Set(1L, 2L))
  }

  test("partitioned staging: manifest paths prune by partition; mixed flat files kept") {
    val dir = tmp("snappart")
    // flat append first (pre-partitioning layout), then a partitioned one
    SnapshotStore.commit(spark, dir,
      Map("t" -> Seq((0L, 0L)).toDF("id", "part")))
    SnapshotStore.commit(spark, dir,
      Map("t" -> Seq((1L, 1L), (2L, 2L), (3L, 1L)).toDF("id", "part")),
      partitionBy = Map("t" -> Seq("part")))
    // manifest lists flat + Hive-style leaves; readPruned keeps unmarked
    // files plus the wanted partition, so a pruning read sees exactly the
    // flat rows (unprunable) + the kept partition's rows
    val total = SnapshotStore.fileCount(spark, dir, "t")
    val marked = SnapshotStore.fileCount(spark, dir, "t", _.contains("part="))
    assert(marked > 0 && marked < total)
    val pruned = SnapshotStore.readPruned(spark, dir, "t",
      f => !f.contains("part=") || f.contains("part=1/")).get
      .select("id").collect().map(_.getLong(0)).toSet
    assert(pruned === Set(0L, 1L, 3L))
    // the partition column is a PATH property, not file data: the full
    // read returns the data columns the flat file carries (id, part for
    // the flat file; id for the partitioned leaves — Spark unions on the
    // first schema, so project the shared column)
    val all = SnapshotStore.read(spark, dir, "t").get
      .select("id").collect().map(_.getLong(0)).toSet
    assert(all === Set(0L, 1L, 2L, 3L))
  }

  test("partitioned commit stages one file per partition value; manifest = parquet leaves") {
    // 8 input partitions, each holding every one of the 4 `part` values
    val df = spark.range(0, 800, 1, 8).select(col("id"), (col("id") % 4).as("part"))
    assert(df.rdd.getNumPartitions === 8)
    val dir = tmp("snapdist")
    SnapshotStore.commit(spark, dir, Map("t" -> df),
      partitionBy = Map("t" -> Seq("part")))
    val files = SnapshotStore.readSnapshot(spark, dir, 1).tables("t")
    val perValue = files.groupBy(f => "part=\\d+/".r.findFirstIn(f).get)
      .view.mapValues(_.size).toMap
    assert(perValue === (0 until 4).map(p => s"part=$p/" -> 1).toMap)
    // the manifest lists exactly the parquet leaves the stage holds
    val onDisk = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "stage"))
      try it.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(_.toString).filter(_.endsWith(".parquet")).toSet
      finally it.close()
    }
    assert(files.map(p => new java.net.URI(p).getPath).toSet === onDisk)
    assert(files === files.sorted)
    assert(SnapshotStore.read(spark, dir, "t").get.count() === 800L)
  }

  test("commitMixed: append and replace land in one atomic snapshot") {
    val dir = tmp("snapmixed")
    SnapshotStore.commit(spark, dir, Map(
      "log" -> Seq(("u1", "infer"), ("u2", "parse")).toDF("url", "stage"),
      "data" -> Seq((1L, "a")).toDF("id", "v")))
    val v = SnapshotStore.commitMixed(spark, dir,
      append = Map("data" -> Seq((2L, "b")).toDF("id", "v")),
      replace = Map("log" -> Seq(("u2", "parse")).toDF("url", "stage")))
    assert(v === 2)
    assert(SnapshotStore.read(spark, dir, "data").get.count() === 2L) // appended
    assert(SnapshotStore.read(spark, dir, "log").get
      .collect().map(_.getString(0)).toSet === Set("u2")) // replaced
    // prior version still shows the pre-rewrite log (time travel)
    assert(SnapshotStore.read(spark, dir, "log", Some(1)).get.count() === 2L)
    // a table in both maps is a caller error
    intercept[IllegalArgumentException] {
      SnapshotStore.commitMixed(spark, dir,
        append = Map("log" -> Seq(("x", "y")).toDF("url", "stage")),
        replace = Map("log" -> Seq(("x", "y")).toDF("url", "stage")))
    }
  }

  test("replace rewrite aborts when the store moved past its read version") {
    val dir = tmp("snapocc")
    SnapshotStore.commit(spark, dir, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    val readV = SnapshotStore.currentVersion(spark, dir)
    // a concurrent appender (e.g. a streaming micro-batch) lands between
    // the rewrite's read and its publish — blind replace would silently
    // drop that append; requireVersion turns it into a retryable abort
    SnapshotStore.commit(spark, dir, Map("t" -> Seq((2L, "b")).toDF("id", "v")))
    intercept[java.util.ConcurrentModificationException] {
      SnapshotStore.commitReplace(spark, dir,
        Map("t" -> Seq((9L, "z")).toDF("id", "v")),
        requireVersion = Some(readV))
    }
    // nothing replaced: the concurrent append is intact
    assert(SnapshotStore.read(spark, dir, "t").get.count() === 2L)
    // re-running the read-compute-replace cycle at the new head succeeds
    val v = SnapshotStore.commitReplace(spark, dir,
      Map("t" -> Seq((9L, "z")).toDF("id", "v")),
      requireVersion = Some(SnapshotStore.currentVersion(spark, dir)))
    assert(v === 3)
    assert(SnapshotStore.read(spark, dir, "t").get.count() === 1L)
  }

  test("snapshot isolation: staged-but-unpublished data is invisible") {
    val dir = tmp("snapiso")
    SnapshotStore.commit(spark, dir, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    // simulate a writer that crashed after staging, before publish
    Seq((99L, "crash")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/stage/v2/t")
    assert(SnapshotStore.currentVersion(spark, dir) === 1)
    val seen = SnapshotStore.read(spark, dir, "t").get
      .collect().map(_.getLong(0)).toSet
    assert(seen === Set(1L))
  }

  test("snapshot commit excludes failed urls from done; heal re-drives them") {
    val dir = tmp("snapfail")
    val dims = Dims.tiny(spark)
    def page(u: String, t: String) =
      (u, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        HtmlText.render(t, "en"), t, "en")
    val pages = Seq(
      page("https://t/ok", "Shakopee Formation in Minnesota."),
      page("https://t/fail-infer", "Text one."),
      page("https://t/fail-parse", "Text two."))
      .toDF("url", "warc_ts", "html", "text", "lang")
    graft.kg.HealToggle.healed = false
    val v1 = KgPipeline.runAndCommitSnapshot(spark, pages, dims,
      new graft.kg.HealToggle.HealingClient, dir, KgPipeline.Config(numPartitions = 2))
    assert(v1 === 1)
    // the atomic snapshot's done table never claims the failed page
    assert(SnapshotStore.read(spark, dir, "done").get
      .collect().map(_.getString(0)).toSet === Set("https://t/ok"))
    assert(SnapshotStore.read(spark, dir, "triples").get.count() === 1L)
    // endpoint heals → the next incremental run re-drives ONLY the failed
    // urls (ok is behind the done-set) and marks them done
    graft.kg.HealToggle.healed = true
    KgPipeline.runAndCommitSnapshot(spark, pages, dims,
      new graft.kg.HealToggle.HealingClient, dir, KgPipeline.Config(numPartitions = 2))
    assert(SnapshotStore.read(spark, dir, "done").get
      .collect().map(_.getString(0)).toSet ===
      Set("https://t/ok", "https://t/fail-infer", "https://t/fail-parse"))
    val triples = SnapshotStore.read(spark, dir, "triples").get
    assert(triples.count() === 3L)
    assert(triples.filter(col("url") === "https://t/fail-infer").count() === 1L)
    assert(triples.filter(col("url") === "https://t/ok").count() === 1L) // not re-run
  }

  test("optimistic concurrency: a taken version is retried, not clobbered") {
    val dir = tmp("snapocc")
    SnapshotStore.commit(spark, dir, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    // occupy v2 manually (a concurrent winner)
    val f = new org.apache.hadoop.fs.Path(s"$dir/snapshots/v00002.json")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(new org.apache.hadoop.fs.Path(s"$dir/snapshots/v00002.json"), false)
    out.write("""{"version": 2, "tables": {"t": []}}""".getBytes("UTF-8")); out.close()
    val v = SnapshotStore.commit(spark, dir, Map("t" -> Seq((2L, "b")).toDF("id", "v")))
    assert(v === 3)
    // v2's (empty) view preserved; v3 = v2 + new files
    assert(SnapshotStore.read(spark, dir, "t", Some(2)).isEmpty)
    val latest = SnapshotStore.read(spark, dir, "t").get
      .collect().map(_.getLong(0)).toSet
    assert(latest === Set(2L))
  }

  test("pipeline atomic commit: triples + done move together; rerun is exactly-once") {
    val dir = tmp("snappipe")
    val dims = Dims.tiny(spark)
    val client = Inference.defaultClient(
      Dims.pinnedStrat.map(_.strat_name).toArray,
      Dims.gazetteer.map(_.name).toArray,
      Dims.pinnedMinerals.map(_.mineral).toArray)
    val pages = Pages.fixtures(spark)

    // clean ground truth in one commit
    val cleanDir = tmp("snapclean")
    KgPipeline.runAndCommitSnapshot(spark, pages, dims, client, cleanDir,
      KgPipeline.Config(numPartitions = 4))
    val key = Seq("url", "subj_name", "predicate", "obj_name")
    val clean = SnapshotStore.read(spark, cleanDir, "triples").get
      .select(key.map(col): _*).collect().map(_.toSeq).toSet

    // partial first attempt (2 urls), then full recovery run
    val firstHalf = pages.filter(
      col("url").isin("https://fixtures.graft/sauk", "https://fixtures.graft/gold"))
    val v1 = KgPipeline.runAndCommitSnapshot(spark, firstHalf, dims, client, dir,
      KgPipeline.Config(numPartitions = 4))
    assert(v1 === 1)
    val v2 = KgPipeline.runAndCommitSnapshot(spark, pages, dims, client, dir,
      KgPipeline.Config(numPartitions = 4))
    assert(v2 === 2)
    val recovered = SnapshotStore.read(spark, dir, "triples").get
      .select(key.map(col): _*).collect().map(_.toSeq).toSet
    assert(recovered === clean)

    // idempotent: everything done => third run appends nothing (row counts,
    // not just row sets: a duplicate append would hide in a set)
    val v3 = KgPipeline.runAndCommitSnapshot(spark, pages, dims, client, dir,
      KgPipeline.Config(numPartitions = 4))
    val after = SnapshotStore.read(spark, dir, "triples", Some(v3)).get
    assert(after.select(key.map(col): _*).collect().map(_.toSeq).toSet === clean)
    assert(after.count() === SnapshotStore.read(spark, dir, "triples", Some(v2)).get.count())
    // done set at head covers every fixture url exactly once
    val done = SnapshotStore.read(spark, dir, "done").get
      .collect().map(_.getString(0))
    assert(done.length === done.distinct.length)
    assert(done.toSet === pages.select("url").collect().map(_.getString(0)).toSet)
  }

  test("concurrent writers: racing commits never clobber each other's staged files") {
    val dir = tmp("snaprace")
    SnapshotStore.commit(spark, dir, Map("t" -> Seq((0L, "base")).toDF("id", "v")))
    // Both writers race for v2 with the SAME table name: before stage paths
    // were writer-unique, the loser's mode-overwrite deleted the winner's
    // staged files AFTER the winner's manifest referenced them.
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { i =>
      new Thread(() =>
        try SnapshotStore.commit(spark, dir,
          Map("t" -> Seq((i.toLong, s"w$i")).toDF("id", "v")))
        catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"commit failed: ${Option(errs.peek()).map(_.getMessage)}")
    // every version's manifest must reference only files that exist
    val head = SnapshotStore.currentVersion(spark, dir)
    assert(head === 5)
    (1 to head).foreach { v =>
      SnapshotStore.readSnapshot(spark, dir, v).tables.values.flatten.foreach { f =>
        assert(java.nio.file.Files.exists(
          java.nio.file.Paths.get(new java.net.URI(f).getPath)), s"missing staged file $f (v$v)")
      }
    }
    // and the head union carries every writer's row exactly once
    val rows = SnapshotStore.read(spark, dir, "t").get
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows === Set((0L, "base"), (1L, "w1"), (2L, "w2"), (3L, "w3"), (4L, "w4")))
  }

  test("retention sweep: expired manifests + unreferenced data go; retained versions intact") {
    val dir = tmp("snapexpire")
    SnapshotStore.commit(spark, dir, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    SnapshotStore.commit(spark, dir, Map("t" -> Seq((2L, "b")).toDF("id", "v")))
    // v3 is a compaction: v1/v2's data files become unreferenced by v3
    SnapshotStore.commitReplace(spark, dir,
      Map("t" -> Seq((1L, "a"), (2L, "b")).toDF("id", "v")))
    // plus an orphan from a "crashed writer": staged, never published
    Seq((99L, "crash")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/stage/v9-dead/t")

    // graceMs = 0: no writer is in flight here (the 1 h library default
    // protects live stores; passing 0 is the quiesced-store/test setting).
    // nowMs is pinned 10 s in the future: the cutoff is strict (<), so a
    // file staged in the same millisecond as the sweep would otherwise
    // survive and flake this test under load.
    val (mDel, dDel) = SnapshotStore.expireSnapshots(spark, dir, keepLast = 1,
      graceMs = 0, nowMs = System.currentTimeMillis() + 10000)
    assert(mDel === 2) // v1, v2 manifests expired
    assert(dDel >= 3)  // v1 data + v2 data + the orphan (and their _SUCCESS etc.)
    // head unchanged and fully readable after the sweep
    assert(SnapshotStore.currentVersion(spark, dir) === 3)
    val rows = SnapshotStore.read(spark, dir, "t").get
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows === Set((1L, "a"), (2L, "b")))
    // expired versions are gone (time travel shortened to the window)
    intercept[Exception] { SnapshotStore.readSnapshot(spark, dir, 1) }
    // every file the head references still exists
    SnapshotStore.readSnapshot(spark, dir, 3).tables.values.flatten.foreach { p =>
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(new java.net.URI(p).getPath)), s"swept live file $p")
    }
    // emptied stage dirs are swept too (the orphan's whole tree), while
    // dirs still holding referenced files survive
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/stage/v9-dead")), "empty stage dir not swept")
    // a grace period protects fresh (possibly in-flight) staging
    Seq((50L, "inflight")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/stage/v9-inflight/t")
    val (_, dDel2) = SnapshotStore.expireSnapshots(spark, dir, keepLast = 1,
      graceMs = 60 * 60 * 1000)
    assert(dDel2 === 0)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/stage/v9-inflight")), "fresh stage dir must survive grace")
  }

  test("repeated sweeps: a window covering already-expired versions doesn't crash") {
    val dir = tmp("snapresweep")
    (1 to 3).foreach(i =>
      SnapshotStore.commit(spark, dir, Map("t" -> Seq((i.toLong, s"v$i")).toDF("id", "v"))))
    SnapshotStore.expireSnapshots(spark, dir, keepLast = 1, graceMs = 0,
      nowMs = System.currentTimeMillis() + 10000)
    // second sweep with a LARGER window: v2 is inside (oldestKept=1..3) but
    // its manifest is gone — must be skipped, not read
    val (m2, d2) = SnapshotStore.expireSnapshots(spark, dir, keepLast = 3,
      graceMs = 0, nowMs = System.currentTimeMillis() + 10000)
    assert(m2 === 0 && d2 === 0)
    val rows = SnapshotStore.read(spark, dir, "t").get
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows === Set((1L, "v1"), (2L, "v2"), (3L, "v3")))
  }

  test("replace-mode commit carries prior meta forward; new keys win") {
    val dir = tmp("snapmeta")
    SnapshotStore.commit(spark, dir, Map("t" -> Seq((1L, "a")).toDF("id", "v")),
      meta = Map("batch_id" -> "7", "owner" -> "stream"))
    SnapshotStore.commitReplace(spark, dir,
      Map("t" -> Seq((1L, "a2")).toDF("id", "v")),
      meta = Map("compaction" -> "canonicalize", "owner" -> "compactor"))
    val m = SnapshotStore.readSnapshot(spark, dir, 2).meta
    assert(m.get("batch_id").contains("7"))          // watermark preserved
    assert(m.get("compaction").contains("canonicalize"))
    assert(m.get("owner").contains("compactor"))     // new key wins
    // append-mode commits inherit too (new keys win): an appender that
    // stamps only its own keys must not erase another writer's watermark
    SnapshotStore.commit(spark, dir, Map("t" -> Seq((2L, "b")).toDF("id", "v")),
      meta = Map("batch_id" -> "8"))
    val m3 = SnapshotStore.readSnapshot(spark, dir, 3).meta
    assert(m3.get("batch_id").contains("8"))         // own key advanced
    assert(m3.get("compaction").contains("canonicalize")) // carried forward
    assert(m3.get("owner").contains("compactor"))
    // and a meta-less append drops nothing
    SnapshotStore.commit(spark, dir, Map("t" -> Seq((3L, "c")).toDF("id", "v")))
    val m4 = SnapshotStore.readSnapshot(spark, dir, 4).meta
    assert(m4.get("batch_id").contains("8"))
  }
}
