package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.functions.Dedup
import graft.streaming.StreamingOps

/** Driver-gate entries for the Structured Streaming surface: each runs a
  * BOUNDED streaming execution (MemoryStream micro-batches + a watermark
  * flush, drained with processAllAvailable) of a composed streaming op
  * and returns the sink contents as a plain DataFrame, so the same
  * rows/schema/hash oracle machinery that gates the batch queries gates
  * the streaming pipelines too.
  *
  * Determinism contract: entries whose ops make first-arrival choices
  * (streaming exact dedup's keeper) feed ONE ordered single-partition
  * MemoryStream batch, so shuffle-read order resolves to the smallest
  * doc_id. stream_clean_corpus is stronger: its keeper is an
  * order-independent min-per-(window, fingerprint) aggregation, and its
  * gate deliberately feeds a 4-partition, doc_id-unordered stream —
  * the oracle match PROVES partitioning independence there.
  */
object StreamQueries {

  /** Streaming gates run on a session CLONE with state shards sized to
    * the gate's stream volume (spark.sql.shuffle.partitions -> 4): every
    * micro-batch commits one state-store delta per shard per stateful
    * stage, so the session-wide 32 shards were ~10x pure commit overhead
    * on KB-scale gate streams (stream_clean_corpus: 2 stateful stages x
    * 32 shards x 3+ batches). Per-stream-job state sizing is the
    * production posture too: the checkpoint FIXES the shard count at
    * first run, so a real deployment chooses it deliberately per stream
    * volume rather than inheriting a batch-tuned session default.
    */
  private def streamSession(s: SparkSession): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    ss
  }

  /** The bounded-execution harness every gate shares: start `out` into a
    * memory sink under a fresh `graft-<tag>-ck` checkpoint, let `feed` add
    * data (it gets a drain: process everything available), collect
    * `view` of the sink so the result outlives the query, stop it, and
    * delete the checkpoint on every exit path.
    */
  private def runBounded(s: SparkSession, out: Dataset[_], mode: OutputMode,
      tag: String)(feed: (() => Unit) => Unit)(
      view: DataFrame => DataFrame = identity): DataFrame = {
    val qname = s"${tag}_" + System.nanoTime()
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft-$tag-ck")
    try {
      val q = out.writeStream.format("memory").queryName(qname)
        .outputMode(mode)
        .option("checkpointLocation", ckpt.toString)
        .start()
      try {
        feed(() => q.processAllAvailable())
        val res = view(out.sparkSession.table(qname))
        s.createDataFrame(s.sparkContext.parallelize(res.collect().toSeq, 1), res.schema)
      } finally q.stop()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the INCREMENTAL clean-corpus pipeline (StreamingOps.streamingCleanCorpus):
    // streaming exact dedup -> static corpus band-index probe (keep misses)
    // -> quality gate, replayed bounded. Corpus = doc_id % 5 == 0 (the
    // persisted band index); shard = the rest, streamed in doc_id order
    // with one event time; a far-future sentinel advances the watermark
    // past the window so Append mode flushes the aggregated survivors.
    "stream_clean_corpus" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ss = streamSession(s)
      import ss.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
      val d = ss.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val corpus = d.filter(col("doc_id") % 5 === 0)
      // the static index: the same (band, bk) relation lshWriteBandIndex
      // persists, built inline (the probe only reads band/bk)
      val index = corpus
        .withColumn("__sh", Dedup.shingleSet(col("text")))
        .filter(size(col("__sh")) >= 1)
        .select(col("doc_id").as("id"),
          explode(Dedup.bandKeyStructs(col("__sh"), 8, 4)).as("bb"))
        .select(col("id"), col("bb.band").as("band"), col("bb.bk").as("bk"))
      // deliberately doc_id-UNORDERED (md5 shuffle) and fed through a
      // 4-partition MemoryStream: the keeper is a min-per-(window, fp)
      // aggregation, so the gate proves arrival-order/partitioning
      // independence rather than assuming a single ordered feed
      val shard = d.filter(col("doc_id") % 5 =!= 0)
        .orderBy(md5(col("doc_id").cast("string")))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val t0 = new java.sql.Timestamp(60L * 1000) // inside window [60s, 120s)
      val in = MemoryStream[(Long, String, java.sql.Timestamp)](ss, numPartitions = 4)
      val out = StreamingOps.streamingCleanCorpus(
        in.toDF().toDF("doc_id", "text", "ts"), index,
        "doc_id", "text", "ts",
        watermark = "10 seconds", windowLen = "1 minute")
      runBounded(s, out, OutputMode.Append(), "scc") { drain =>
        in.addData(shard.toSeq.map { case (id, t) => (id, t, t0) })
        drain()
        // sentinels: 1-token texts (sentinel band, fail the quality gate)
        // whose event times close the shard's window; their own windows
        // never close, so they can't emit. TWO sentinel batches because
        // the pipeline now chains two stateful aggregations (keeper,
        // band-miss count): the first flush emits the keeper agg, the
        // second lets the downstream agg see the advanced watermark.
        in.addData(Seq((-1L, "flush", new java.sql.Timestamp(3600L * 1000))))
        drain()
        in.addData(Seq((-2L, "flush", new java.sql.Timestamp(7200L * 1000))))
        drain()
      } { sink =>
        sink.filter(col("id") >= 0)
          .select(col("id").as("doc_id"), md5(col("text")).as("clean_digest"),
            col("n_tokens"), col("stop_ratio"))
      }.orderBy("doc_id")
    }),

    // Streaming decontamination replayed bounded: the non-benchmark docs
    // arrive over TWO MemoryStream micro-batches (stateless op — batch
    // boundaries must not matter) against the static benchmark gram
    // index; the drained sink must equal the per-witness batch join.
    "stream_decontaminate" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ss = streamSession(s)
      import ss.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
      val d = ss.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val bench = d.filter(col("doc_id") % 10 === 0)
      val shard = d.filter(col("doc_id") % 10 =!= 0).orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val in = MemoryStream[(Long, String)]
      val out = StreamingOps.streamingDecontaminate(
        in.toDF().toDF("doc_id", "text"), bench, "doc_id", "text", n = 4)
      runBounded(s, out, OutputMode.Append(), "sdc") { drain =>
        val (half1, half2) = shard.toSeq.splitAt(shard.length / 2)
        in.addData(half1)
        drain()
        in.addData(half2)
        drain()
      }().orderBy("doc_id", "contaminated_by")
    }),

    // Event-time sessionization replayed bounded: the full event stream
    // feeds one ordered MemoryStream batch (in-stream gap closures emit
    // immediately); two far-future sentinels then advance the watermark
    // past every open session's last + gap — sentinel 1 raises the
    // watermark, sentinel 2 triggers the batch in which the event-time
    // timeouts fire — so the drained sink holds EVERY session. Aggregated
    // per user, the result must equal the batch q_events_sessionize
    // window query (same nano arithmetic, same 30-minute gap): one
    // oracle, two execution models.
    "stream_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ss = streamSession(s)
      import ss.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
      val rows = graft.GraftSession.tsToNanos(ss.read.parquet(s"$dir/events.parquet"))
        .select(col("user_id"), col("ts"))
        .orderBy("ts", "user_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val in = MemoryStream[(Long, Long, java.sql.Timestamp)]
      val out = StreamingOps.sessionizeEventTime(
        in.toDF().toDF("user_id", "ts_ns", "ts"),
        gapMs = 1800L * 1000, watermark = "10 seconds")
      runBounded(s, out, OutputMode.Append(), "ssz") { drain =>
        in.addData(rows.toSeq.map { case (u, ns) =>
          (u, ns, new java.sql.Timestamp(ns / 1000000L))
        })
        drain()
        val far   = new java.sql.Timestamp(4102444800000L) // 2100-01-01
        // sentinel ts_ns must ride far in the future too: its own state's
        // timeout is armed at ts_ns + gap, which must stay >= the watermark
        val farNs = 4102444800000L * 1000000L
        in.addData(Seq((-1L, farNs, far))) // advances the watermark
        drain()
        in.addData(Seq((-2L, farNs, far))) // batch in which timeouts fire
        drain()
      } { sink =>
        sink.filter(col("user_id") >= 0)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"))
      }.orderBy("user_id")
    }),

    // Live co-visitation graph: events arrive across micro-batches and
    // the per-edge interaction multiplicity folds into running agg state
    // (Complete mode exposes the current weighted graph — the edge
    // relation graph_pagerank_weighted / graph_covisit_topk consume,
    // maintained incrementally instead of recomputed). The batch wuk
    // derivation is the oracle: one graph law, two execution models.
    "stream_covisit" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ss = streamSession(s)
      import ss.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
      val ev = ss.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("user_id").cast("long"), col("props"))
        .orderBy("event_id")
        .collect().map(r => (r.getLong(1), r.getString(2)))
      val in = MemoryStream[(Long, String)]
      val out = graft.streaming.StreamingOps.streamingCoVisitation(
        in.toDF().toDF("user_id", "props"), "user_id", "props")
      runBounded(s, out, OutputMode.Complete(), "scv") { drain =>
        // three arrival waves: the final complete table must not depend
        // on how interactions split across micro-batches
        val third = math.max(1, ev.length / 3)
        ev.grouped(third).foreach { wave =>
          in.addData(wave.toSeq)
          drain()
        }
      }().orderBy("u", "k")
    })
  )

  val oracles: Map[String, String] = Map(
    "stream_covisit" ->
      s"""SELECT user_id AS u, CAST(json_extract(props, '$$.k') AS BIGINT) AS k,
         |       COUNT(*) AS w
         |FROM events WHERE json_extract(props, '$$.k') IS NOT NULL
         |GROUP BY 1, 2 ORDER BY u, k""".stripMargin,

    // per-witness replay of the batch decontamination join (the stream op
    // emits one row per (doc, witness); same distinct-4-gram equi-join)
    "stream_decontaminate" ->
      """WITH tg AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(regexp_split_to_array(trim(text), '\s+')) - 3),
        |    i -> regexp_split_to_array(trim(text), '\s+')[i] || ' ' ||
        |         regexp_split_to_array(trim(text), '\s+')[i+1] || ' ' ||
        |         regexp_split_to_array(trim(text), '\s+')[i+2] || ' ' ||
        |         regexp_split_to_array(trim(text), '\s+')[i+3])) AS g
        |  FROM documents),
        |tr AS (SELECT DISTINCT doc_id, g FROM tg WHERE doc_id % 10 <> 0),
        |be AS (SELECT DISTINCT doc_id, g FROM tg WHERE doc_id % 10 = 0)
        |SELECT tr.doc_id, be.doc_id AS contaminated_by, COUNT(*) AS n_hits
        |FROM tr JOIN be USING (g)
        |GROUP BY tr.doc_id, be.doc_id
        |ORDER BY tr.doc_id, contaminated_by""".stripMargin,
    // batch replay of the three streamed stages; `bands` (shared LSH CTE
    // over ALL documents) serves both the corpus index (doc_id % 5 = 0)
    // and the probe side. Docs too short to shingle have no bands -> no
    // possible hit -> survive stage 2, matching the op's sentinel band.
    "stream_clean_corpus" ->
      s"""WITH shard AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
         |ex AS (SELECT MIN(doc_id) AS doc_id FROM shard GROUP BY md5(text)),
         |s1 AS (SELECT sh2.doc_id, sh2.text FROM shard sh2 JOIN ex USING (doc_id)),
         |${TextQueries.lshBandsCte("documents")},
         |hit AS (
         |  SELECT DISTINCT p.doc_id
         |  FROM bands p JOIN bands c ON p.band = c.band AND p.bk = c.bk
         |  WHERE p.doc_id % 5 <> 0 AND c.doc_id % 5 = 0),
         |s2 AS (
         |  SELECT s1.doc_id, s1.text FROM s1
         |  LEFT JOIN hit ON s1.doc_id = hit.doc_id
         |  WHERE hit.doc_id IS NULL),
         |fin AS (
         |  SELECT doc_id, text,
         |    CAST(len(${TextQueries.tokSql}) AS BIGINT) AS n_tokens,
         |    round(CAST(len(list_filter(${TextQueries.tokSql},
         |        s -> s IN ('the','a','of','to','and'))) AS DOUBLE)
         |      / greatest(len(${TextQueries.tokSql}), 1), 6) AS stop_ratio
         |  FROM s2)
         |SELECT doc_id, md5(text) AS clean_digest, n_tokens, stop_ratio
         |FROM fin
         |WHERE n_tokens >= 20 AND stop_ratio >= 0.02 AND stop_ratio <= 0.2
         |ORDER BY doc_id""".stripMargin,

    // the SAME window-based SQL that gates the batch q_events_sessionize —
    // one oracle, two execution models (batch lag window vs event-time
    // flatMapGroupsWithState)
    "stream_sessionize" ->
      """SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_ts IS NULL OR ts_ns - prev_ts > 1800000000000 THEN 1 ELSE 0 END AS new_session
        |  FROM (SELECT user_id, epoch_ns(ts) AS ts_ns,
        |          lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS prev_ts
        |        FROM events))
        |GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}
