package graft

import graft.streaming.StreamJobs
import org.scalatest.funsuite.AnyFunSuite

/** Completes the streaming plan-guard story (round 18, VERDICT r17
  * item 3) with two enforcement pieces on top of [[StreamGuards]]:
  *
  *  1. REFLECTION COMPLETENESS — every public StreamJobs entry point
  *     must appear in the accounting map below, which states where its
  *     micro-batch plan is guarded (a named streaming run hooked through
  *     `StreamGuards.stop`, an unnamed sink run, or a batch-shaped plan
  *     guarded directly in this spec). Adding a StreamJobs method
  *     without accounting for its plan fails here the day it is written.
  *  2. BATCH-SHAPED PLANS — the entry points that run INSIDE
  *     `foreachBatch` in deployment (each micro-batch is a complete
  *     batch relation) are guarded here as batch plans over small
  *     inputs, with the same negative checks.
  *
  * The coverage audit that produced this spec found two entry points
  * with NO live run at all (slidingHourly, sessionWindows) — both now
  * have stream==batch pins in StreamingSpec.
  */
class StreamingPlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Entry point -> where its plan is guarded. The VALUES are
    * documentation; the KEYS are enforced by the reflection test.
    */
  private val accounted: Map[String, String] = Map(
    // sources — consumed by (and guarded through) every query below
    "rawFeedStream" -> "source; guarded through the unnamed landObservations runs (StreamingSpec)",
    "rawFeedStreamRest" -> "source; RestFeedSourceSpec drives the DSv2 connector — downstream normalize plan identical to rawFeedStream's guarded form",
    "eventsStream" -> "source; consumed by every guarded events query",
    "docsStream" -> "source; consumed by every guarded docs query",
    "embeddingsStream" -> "source; consumed by ann_ingest_out and the serve twins",
    // named streaming runs (StreamGuards coverage asserted in
    // StreamingSpec's closing test)
    "tumblingDaily" -> "tumbling_out",
    "slidingHourly" -> "sliding_hourly_out (added r18 — had no live run)",
    "sessionWindows" -> "session_windows_out (added r18 — had no live run)",
    "slidingDistinctUsers" -> "sliding_distinct_out",
    "bitmapPresenceStream" -> "bitmap_out",
    "runningTotals" -> "tws_out",
    "timerSessions" -> "timer_sessions_out",
    "reachStream" -> "reach_out / reach_hdfs / reach_rocks",
    "markovStream" -> "markov_out",
    "utouchStream" -> "utouch_out",
    "utouchTimersStream" -> "utouch_timers_out",
    "weightedSampleStream" -> "wsample_out",
    "dimEnrichStream" -> "dim_enrich_out",
    "annIngestStream" -> "ann_ingest_out",
    "tokenizeStream" -> "tok_stream_out",
    "tokenIdsStream" -> "tokid_stream_out",
    "packStream" -> "pack_stream_out",
    "crossDocStream" -> "crossdoc_stream_out",
    "dsirAdmitStream" -> "dsir_admit_out",
    "shardRouteStream" -> "shard_route_out",
    "followerJoin" -> "follower_out",
    "followerJoinOuter" -> "follower_outer_out",
    "followerJoinFull" -> "follower_full_out",
    "followerJoinSemi" -> "follower_semi_out",
    "orderShipmentJoin" -> "ss_join_inner / ss_join_outer",
    "asOfEnrichStream" -> "asof_late_out / asof_eq_out / asof_tol_out / asof_hdfs / asof_rocks",
    // unnamed sink runs — StreamGuards captures them under 'unnamed';
    // both suites assert that bucket was exercised
    "landObservations" -> "unnamed file-sink runs (StreamingSpec S9/T7 tests)",
    "landObservationsObserved" -> "unnamed file-sink run with observe() metrics",
    "landObservationsAvailableNow" -> "unnamed AvailableNow drain run",
    "landObservationsIdempotent" -> "unnamed foreachBatch overwrite run",
    "latestStateUpsert" -> "unnamed foreachBatch run; merge body is union + hash-agg max_by (no join/window)",
    "cdcUpsertStream" -> "unnamed foreachBatch run; same merge algebra as latestStateUpsert",
    "annDeleteStream" -> "unnamed foreachBatch tombstone append (ArtifactSpec)",
    // serve twins that run inside foreachBatch — live runs in
    // ArtifactSpec (unnamed/pin_probe) + batch cores guarded via the
    // RegistrySpec walk over their declared queries
    "annFilteredServeStream" -> "ArtifactSpec serve run; batch core = q_sim_knn_filtered",
    "imageNearDupServeStream" -> "ArtifactSpec serve run; batch core = q_multimodal_neardup family",
    "substringAdmitStream" -> "ArtifactSpec serve run; batch core = q_source_overlap/substring index probes",
    "cdcAdmitStream" -> "StreamingSpec/ArtifactSpec serve run; batch core = q_cdc_chunks/cdc store probes",
    "qualityScoreStream" -> "ArtifactSpec serve run; batch core = q_quality_classifier",
    // batch-shaped entry points — guarded AS BATCH PLANS in this spec
    "skylineDictUpdate" -> "batch plan guarded below",
    "skylineFrontier" -> "batch plan guarded below (length-dictionary window allowlisted)",
    "globalIdsUpdate" -> "batch plan guarded below",
    "cdcStateView" -> "batch plan guarded below"
  )

  test("every public StreamJobs entry point is accounted for in the plan-guard map") {
    val entryPoints = StreamJobs.getClass.getDeclaredMethods.toSeq
      .filter { m =>
        java.lang.reflect.Modifier.isPublic(m.getModifiers) &&
          !m.isSynthetic && !m.getName.contains("$") &&
          (classOf[org.apache.spark.sql.Dataset[_]]
            .isAssignableFrom(m.getReturnType) ||
            classOf[org.apache.spark.sql.streaming.DataStreamWriter[_]]
              .isAssignableFrom(m.getReturnType))
      }
      .map(_.getName).toSet
    val unaccounted = entryPoints.diff(accounted.keySet)
    assert(unaccounted.isEmpty,
      s"StreamJobs entry points with no plan-guard accounting: " +
        s"${unaccounted.toSeq.sorted.mkString(", ")} — run them through " +
        "StreamGuards.stop in a spec (or guard their batch plan here) and " +
        "add them to the map")
    // the map carries no dead rows for renamed/removed methods
    val stale = accounted.keySet.diff(entryPoints)
    assert(stale.isEmpty,
      s"accounting rows for nonexistent entry points: ${stale.toSeq.sorted.mkString(", ")}")
  }

  /** Guard a batch-shaped plan with the same negative checks (AQE off so
    * the static walk applies, mirroring RegistrySpec).
    */
  private def guardBatch(name: String,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val hits = StreamGuards.check(name, df.queryExecution.executedPlan)
      assert(hits.isEmpty, hits.mkString("\n"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("batch-shaped entry points plan clean: skyline dict/frontier, global ids, cdc view") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    val standing = graft.ext.CurateQueries.skylineDict(
      graft.ext.CurateQueries.skylineScore(docs.filter($"doc_id" % 2 === 0)))
      .localCheckpoint()
    val dictUpdate = StreamJobs.skylineDictUpdate(
      docs.filter($"doc_id" % 2 === 1), standing)
    guardBatch("skyline_dict_update", dictUpdate)
    guardBatch("skyline_frontier",
      StreamJobs.skylineFrontier(dictUpdate.localCheckpoint()))
    guardBatch("global_ids_update",
      StreamJobs.globalIdsUpdate(docs.select($"doc_id", $"lang"), 1000L))
    val stateDir = TestSpark.tempDir("graft-cdc-view").toString
    Seq((1L, 10L, "a", 5L, "I"), (2L, 11L, "b", 6L, "D"))
      .toDF("k", "seq", "st", "cents", "op")
      .write.mode("overwrite").parquet(stateDir)
    guardBatch("cdc_state_view", StreamJobs.cdcStateView(spark, stateDir))
  }
}
