package graft.perfbench

import scala.collection.immutable.{SortedMap, SortedSet}

import graft.core.{EventGraph, SearArg, SearEngine, ShelveRound, WorkCache}
import graft.operators.{Dedup, Forget, Similarity}
import graft.perfbench.Main.{deleteTree, Check, Ctx, Op, Workload}
import graft.plans.ShelveSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `event_graph`: per round one merge of K seeded independent branches
  * (the q_shelve_merge composition) and one replay pass (the
  * q_linearize, q_replay_per_user, q_replay_incremental and q_closure
  * gates) over the event log that set-up ingested.
  */
final class EventGraphWl(ctx: Ctx) extends Workload {
  import ctx._
  val nominalRoundS = 4.5
  val K = 48
  private val rng = new scala.util.Random(seed * 31 + 7)
  private var lastMerge: (Vector[SearArg], String, String) = null
  private var mergeOk = true

  /** Seeded branches: K distinct base tokens, each rewritten once. */
  private def branches(): (String, Vector[SearArg]) = {
    val toks = Iterator.continually(rng.alphanumeric.take(6).mkString.toLowerCase)
      .distinct.take(2 * K).toVector
    val (as, bs) = toks.splitAt(K)
    val args = rng.shuffle(as.zip(bs).map { case (a, b) => SearArg(a, b) })
    (as.mkString("|"), args)
  }

  /** The replay gates, with the span each is timed under (named after
    * the layer call the gate makes).
    */
  val Replays = Seq(
    "q_linearize" -> "operators.EventReplay.linearize",
    "q_replay_per_user" -> "operators.EventReplay.replayPerUser",
    "q_replay_incremental" -> "operators.StateCache.replayIncremental",
    "q_closure" -> "plans.GraphOps.closureFunctional")
  /** Input directory of the replays: the event log as set-up ingested it. */
  private var log = ""

  /** Ingest the generated event log into a fresh table that the replays
    * of every round read.
    */
  def setup(rep: Int): Unit = {
    graft.functions.GraftFunctions.register(spark)
    val dir = s"$work/log$rep"
    spark.read.parquet(s"$data/events.parquet").write.parquet(s"$dir/events.parquet")
    if (rep > 0) deleteTree(new java.io.File(s"$work/log${rep - 1}"))
    log = dir
  }

  def round(r: Int, op: Op): Unit = {
    op("merge") {
      val (base, args) = branches()
      val g = new EventGraph[SearArg](SearEngine)
      val fused = ShelveSpark.fusedTester(spark, SearEngine)
      val counting = (round: ShelveRound[SearArg, String]) => {
        trace.count("rounds", 1); trace.count("tests", round.entries.length)
        fused(round)
      }
      val w = new WorkCache[SearArg, String](SearEngine, base,
        Some(ShelveSpark.tester(spark, SearEngine)),
        Some(ShelveSpark.baseBuilder(spark, SearEngine)),
        Some(counting))
      var states = SortedSet.empty[String]
      args.foreach { a =>
        states += span("core.WorkCache.shelveEvent")(
          w.shelveEvent(g, SortedSet.empty[String], 0, a)).get
      }
      span("core.WorkCache.tryMerge")(w.tryMerge(g, states))
      val minimized = span("core.EventGraph.foldState")(SortedSet.from(g.foldState(
        SortedMap.from(states.iterator.map(_ -> false)), expand = false).keysIterator))
      val (dat, _) = span("core.WorkCache.materialize")(w.materialize(g, minimized))
      lastMerge = (args, base, dat)
    }
    op("replay") {
      Replays.foreach { case (q, name) =>
        span(name)(noop(graft.SparkEntry.queries(q)(spark, log)))
      }
    }
  }

  /** The merged datum must equal the sequential fold of the same
    * branch events over the base datum.
    */
  def check(r: Int): Seq[Check] = {
    if (lastMerge == null) return Seq(Check("merge", ok = false, s"round $r: no merge result"))
    val (args, base, dat) = lastMerge
    val ref = args.foldLeft(base)((d, a) => SearEngine.runEvent(0, a, d))
    lastMerge = null
    if (ref != dat) mergeOk = false
    if (ref == dat) Nil else Seq(Check("merge", ok = false, s"round $r: $dat != $ref"))
  }

  def closeOut(): (Seq[Check], Seq[(String, DataFrame)]) =
    (Seq(Check("merge_equals_sequential_fold", mergeOk, "")),
      Replays.map { case (q, _) => q -> graft.SparkEntry.queries(q)(spark, log) })
}

/** `analytics`: per round one pass over the ten judged gates, each
  * evaluated into the `noop` sink.
  */
final class AnalyticsWl(ctx: Ctx) extends Workload {
  import ctx._
  val nominalRoundS = 20.0
  val Gates = Seq("q_setsim_join", "q_canonical_pick", "q_curation_full2",
    "q_bloom_join_prune", "q_kmv_setops", "q_boilerplate", "q_interval_overlap",
    "q_pagerank_mass", "q_dup_clusters", "q_triangles")

  def setup(rep: Int): Unit = {
    graft.functions.GraftFunctions.register(spark)
    Seq("documents", "embeddings", "events", "supplier", "lineitem").foreach(t =>
      spark.read.parquet(s"$data/$t.parquet").localCheckpoint().count())
  }

  def round(r: Int, op: Op): Unit =
    Gates.foreach(g => op(g)(span(s"entry.$g")(noop(graft.SparkEntry.queries(g)(spark, data)))))

  def check(r: Int): Seq[Check] = Nil

  def closeOut(): (Seq[Check], Seq[(String, DataFrame)]) =
    (Nil, Gates.map(g => g -> graft.SparkEntry.queries(g)(spark, data)))
}

/** `lifecycle`: seeded rounds over persisted artifacts (band index,
  * winner store, counted gram index, stamped CMS log, IVF-PQ index).
  * Half the corpus is ingested at set-up; each round appends the next
  * batch in seeded arrival order, forgets a seeded set of live ids,
  * probes both indexes and runs a maintenance window.
  */
final class LifecycleWl(ctx: Ctx) extends Workload {
  import ctx._
  val nominalRoundS = 11.0
  import spark.implicits._
  val Batch = 20
  val ForgetN = 4
  val ProbeN = 16

  private val docs: Map[Long, String] = spark.read.parquet(s"$data/documents.parquet")
    .select("doc_id", "text").as[(Long, String)].collect().toMap
  private val vecs: Map[Long, Array[Float]] = spark.read.parquet(s"$data/embeddings.parquet")
    .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
  private val rng = new scala.util.Random(seed * 131 + 3)
  private val arrival: Vector[Long] = rng.shuffle(docs.keys.toVector.sorted)
  private val initial = arrival.size / 2

  private var art = ""
  private def p(name: String) = s"$art/$name"
  private var next = initial
  private val live = scala.collection.mutable.LinkedHashSet.empty[Long]
  private var lastForget: Seq[Long] = Nil
  private var lastProbe: Seq[Long] = Nil
  private var probeHits: Array[(Long, Long)] = Array.empty
  private var annHits: Array[Long] = Array.empty

  private def docFrame(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, docs(i))).toDF("doc_id", "text")
  private def vecFrame(ids: Seq[Long]): DataFrame =
    ids.filter(vecs.contains).map(i => (i, vecs(i))).toDF("vec_id", "embedding")
  private def userBytesOf(ids: Seq[Long]): Long =
    ids.map(i => docs(i).getBytes("UTF-8").length.toLong + vecs.get(i).map(_.length * 4L).getOrElse(0L)).sum

  private def bands(d: DataFrame): DataFrame =
    Dedup.capBucket(Dedup.bandKeys(d.select(col("doc_id"), col("text").as("__text")),
      shingleN = 3, bands = 6, rows = 2), "band_key", "doc_id", 128)
  private def words(d: DataFrame): DataFrame =
    d.select(explode(Dedup.tokens(col("text"))).as("word"))

  private def targets = Forget.Targets(
    annIndexPaths = Seq(p("ann")),
    bandIndexPath = Some(p("bands")),
    winnerStorePath = Some(p("store")),
    gramIndexPath = Some(p("grams")),
    retractions = Seq(Forget.SumLogRetraction("cms", p("cms"),
      (d, st) => graft.streaming.StreamingCms.retract(d, p("cms"), st))))

  /** Files under the artifact root: path -> bytes. */
  private def listing(): Map[String, Long] = {
    val root = new java.io.File(art)
    def walk(f: java.io.File): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f.getPath -> f.length())
    walk(root).toMap
  }

  /** A call into a layer that writes artifacts: its span also counts
    * the files it left behind that were not there before.
    */
  private def writing[T](name: String)(body: => T): T = span(name) {
    val before = if (trace.enabled) listing() else Map.empty[String, Long]
    val out = body
    if (trace.enabled) {
      val fresh = listing().filter { case (f, _) => !before.contains(f) }
      trace.count("files_written", fresh.size)
      trace.count("bytes_written", fresh.values.sum.toDouble)
    }
    out
  }

  def setup(rep: Int): Unit = {
    art = s"$work/art$rep"
    val init = arrival.take(initial)
    val d = docFrame(init).localCheckpoint()
    graft.streaming.StreamingNearDup.appendToIndex(bands(d), p("bands"),
      bucketCap = 128, stampParams = Some((3, 6, 2)))
    d.write.parquet(p("store"))
    graft.streaming.StreamingSubstringDedup.appendToIndexCounted(d, "text", "doc_id",
      p("grams"), k = 8, stampId = 0L)
    graft.sources.ArtifactHeader.validateOrStamp(spark, p("cms"), "cms",
      graft.streaming.StreamingCms.cmsParams(4, 1024))
    graft.sources.DeltaLogCompaction.appendStamped(
      graft.operators.Sketches.cmsBuildBatch(words(d), 4, 1024), p("cms"), 0L)
    Similarity.ivfPqIndexWrite(vecFrame(init), p("ann"), dim = 64)
    if (rep > 0) deleteTree(new java.io.File(s"$work/art${rep - 1}"))
    live.clear(); live ++= init
  }

  def round(r: Int, op: Op): Unit = {
    val stamp = r + 1L
    val batch = arrival.slice(next, next + Batch)
    require(batch.nonEmpty, "lifecycle: corpus exhausted")
    next += batch.size
    op("append") {
      val d = docFrame(batch).localCheckpoint()
      writing("streaming.StreamingNearDup.appendToIndex")(
        graft.streaming.StreamingNearDup.appendToIndex(bands(d), p("bands"),
          bucketCap = 128, stampParams = Some((3, 6, 2))))
      writing("verb.winnerStoreAppend")(d.write.mode("append").parquet(p("store")))
      writing("streaming.StreamingSubstringDedup.appendToIndexCounted")(
        graft.streaming.StreamingSubstringDedup.appendToIndexCounted(d, "text", "doc_id",
          p("grams"), k = 8, stampId = stamp))
      writing("sources.DeltaLogCompaction.appendStamped")(
        graft.sources.DeltaLogCompaction.appendStamped(
          graft.operators.Sketches.cmsBuildBatch(words(d), 4, 1024), p("cms"), stamp))
      writing("operators.Similarity.ivfPqIndexAppendAt")(
        Similarity.ivfPqIndexAppendAt(vecFrame(batch), p("ann")))
      live ++= batch
      trace.count("user_bytes", userBytesOf(batch).toDouble)
    }
    val ids = rng.shuffle(live.toVector).take(ForgetN).sorted
    op("forget") {
      val rep = writing("operators.Forget.forgetDocuments")(
        Forget.forgetDocuments(spark, ids, targets))
      trace.count("rows_rewritten", (rep.storeFold.toSeq ++ rep.bandFold.toSeq ++
        rep.annFolds.values).map(_._2.toDouble).sum)
      live --= ids
      lastForget = ids
      trace.count("user_bytes", userBytesOf(ids).toDouble)
    }
    val probe = rng.shuffle(docs.keys.toVector.sorted).take(ProbeN).sorted
    op("probe") {
      val store = spark.read.parquet(p("store"))
      probeHits = span("operators.Dedup.nearDupAgainstIndexAt")(
        Dedup.nearDupAgainstIndexAt(spark, store, docFrame(probe), p("bands"),
          "text", "doc_id", threshold = 0.4)
          .select("doc_new", "doc_prior").as[(Long, Long)].collect())
      annHits = span("operators.Similarity.annIvfPqProbeAt")(
        Similarity.annIvfPqProbeAt(spark, p("ann"), vecFrame(probe), k = 5)
          .select(col("neighbor_id").cast("long")).as[Long].collect())
      lastProbe = probe
    }
    op("maintain") {
      import graft.sources.ArtifactMaintainer
      writing("sources.ArtifactMaintainer.maintain")(new ArtifactMaintainer().maintain(Seq(
        ArtifactMaintainer.compactTask(spark, p("bands")),
        ArtifactMaintainer.compactTask(spark, p("store"), clusterBy = Seq("doc_id")),
        ArtifactMaintainer.Task("gramsc_fold") { () =>
          graft.streaming.StreamingSubstringDedup.compactCounted(spark, p("grams")).toString },
        ArtifactMaintainer.Task("cms_fold") { () =>
          graft.sources.DeltaLogCompaction.compactCms(spark, p("cms")).toString })))
    }
  }

  /** After each forget nothing of the forgotten ids is reachable or
    * stored; no probe answer names a forgotten or never-ingested doc.
    */
  def check(r: Int): Seq[Check] = {
    val audit = Forget.auditDocuments(spark, lastForget, targets)
      .select("surface", "physical_rows", "reachable_rows").as[(String, Long, Long)].collect()
    val leaks = audit.filter(a => a._2 != 0 || a._3 != 0)
    val stale = (probeHits.map(_._2) ++ annHits).filter(i => !live.contains(i))
    Seq(Check(s"forget_audit_r$r", leaks.isEmpty, leaks.mkString(",")),
      Check(s"probe_live_r$r", stale.isEmpty, stale.take(10).mkString(",")))
  }

  /** Close-out: the last probe equals a probe of the same docs against
    * a band index built fresh from the surviving store, and the counted
    * live gram set equals the grams of the surviving corpus.
    */
  def closeOut(): (Seq[Check], Seq[(String, DataFrame)]) = {
    val store = spark.read.parquet(p("store"))
    val storeIds = store.select("doc_id").as[Long].collect().toSet
    val fresh = s"$work/ref_bands"
    graft.streaming.StreamingNearDup.appendToIndex(bands(store.select("doc_id", "text")), fresh,
      bucketCap = 128, stampParams = Some((3, 6, 2)))
    val ref = Dedup.nearDupAgainstIndexAt(spark, store, docFrame(lastProbe), fresh,
      "text", "doc_id", threshold = 0.4).select("doc_new", "doc_prior").as[(Long, Long)]
      .collect().toSet
    val expected = graft.operators.Curation.gramTable(store.select("doc_id", "text"),
      "text", "doc_id", 8)._2.select("h").distinct()
    val liveGrams = graft.streaming.StreamingSubstringDedup.countedLive(spark, p("grams"))
    val gramDiff = expected.join(liveGrams, Seq("h"), "left_anti")
      .unionByName(liveGrams.join(expected, Seq("h"), "left_anti")).count()
    (Seq(
      Check("store_equals_live_set", storeIds == live.toSet,
        s"store ${storeIds.size} live ${live.size}"),
      Check("probe_equals_surviving_reference", ref == probeHits.toSet,
        s"got ${probeHits.length} ref ${ref.size}"),
      Check("counted_grams_equal_surviving", gramDiff == 0L, s"diff $gramDiff")), Nil)
  }

  override def gauges(): Map[String, Double] = {
    val files = listing().filter { case (f, _) =>
      val n = new java.io.File(f).getName
      !n.startsWith(".") && !n.startsWith("_")
    }
    val liveBytes = userBytesOf(live.toSeq).toDouble
    Map("files_live" -> files.size.toDouble,
      "space_amp" -> listing().values.sum / liveBytes)
  }
}
