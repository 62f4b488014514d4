package graft.queries

import graft.core.Tables
import graft.operators.Multimodal
import graft.queries.{OracleSql => O}

/** Gate for the multimodal plumbing: documents → binary media records →
  * mapPartitions feature extraction. The fake decode is deterministic
  * arithmetic over the payload bytes, so DuckDB can mirror it from the
  * text column (ASCII payloads ⇒ byte fold ≡ char-code fold). */
object MultimodalQueries {
  val all: Seq[Q] = Seq(
    Q("m01_media_features",
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val media = Multimodal.mediaFromDocuments(Tables(s, dir, "documents"))
        Multimodal.extractFeatures(media).toDF()
      },
      Some(s"""SELECT doc_id,
              |CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
              |CAST(strlen(text) AS BIGINT) AS byte_len,
              |strlen(text) % 640 + 1 AS width,
              |strlen(text) % 480 + 1 AS height,
              |CASE WHEN CAST(doc_id % 3 AS INTEGER) = 2 THEN strlen(text) % 30 + 1 ELSE 1 END AS n_frames,
              |${O.tokenHash("text")} AS checksum
              |FROM documents""".stripMargin)),

    // One-to-many leg: frame sampling (video rows explode into evenly
    // spaced frame rows) + aspect-fit resize geometry, all inside one
    // narrow mapPartitions flatMap. The DuckDB mirror lateral-unnests
    // a generate_series per row over the same deterministic arithmetic.
    Q("m02_frame_sample",
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val media = Multimodal.mediaFromDocuments(Tables(s, dir, "documents"))
        Multimodal.sampleFrames(media).toDF()
      },
      Some(s"""WITH f AS (SELECT doc_id,
              |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
              |  strlen(text) % 640 + 1 AS w,
              |  strlen(text) % 480 + 1 AS h,
              |  CASE WHEN CAST(doc_id % 3 AS INTEGER) = 2 THEN strlen(text) % 30 + 1 ELSE 1 END AS nf,
              |  ${O.tokenHash("text")} AS checksum
              |  FROM documents),
              |g AS (SELECT *, CASE WHEN kind = 'video' THEN LEAST(nf, 4) ELSE 1 END AS samples FROM f)
              |SELECT doc_id, kind,
              |  CAST(u.i * (nf // samples) AS BIGINT) AS frame_pos,
              |  CAST((checksum * 31 + u.i * (nf // samples)) % 1000000007 AS BIGINT) AS frame_hash,
              |  CAST(GREATEST(1, FLOOR(w * LEAST(224.0 / w, 224.0 / h))) AS BIGINT) AS out_w,
              |  CAST(GREATEST(1, FLOOR(h * LEAST(224.0 / w, 224.0 / h))) AS BIGINT) AS out_h
              |FROM g, UNNEST(generate_series(0, samples - 1)) AS u(i)""".stripMargin)),

    // Aspect-ratio bucketed batching (image-gen training prep): images
    // classed into the five standard aspect buckets, then given a
    // per-bucket batch index. The numbering is RowNumbers.number keyed
    // on bucket — range-partitioned two-phase, so a bucket's rows
    // SPREAD across partitions instead of funneling into one reducer
    // per bucket (five hot keys is exactly where a plain window
    // collapses at scale). Threshold classing (not nearest-ratio) keeps the bucket
    // decision a few exact double compares both engines share.
    Q("m03_aspect_batches",
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.types.DoubleType
        val feats = Multimodal.extractFeatures(
          Multimodal.mediaFromDocuments(Tables(s, dir, "documents"))).toDF()
        val images = feats.filter(col("kind") === "image")
          .select(col("doc_id"), (col("width").cast(DoubleType) /
            col("height").cast(DoubleType)).as("r"))
        val b = images.withColumn("bucket",
          when(col("r") < 0.6, "9:16").when(col("r") < 0.85, "3:4")
            .when(col("r") < 1.15, "1:1").when(col("r") < 1.5, "4:3")
            .otherwise("16:9")).drop("r")
        graft.core.RowNumbers.number(b, Seq(col("doc_id")), key = Seq("bucket"))
          .select(col("doc_id"), col("bucket"),
            expr("(rn - 1) div 16").as("batch_idx"))
      },
      Some("""WITH f AS (SELECT doc_id,
             |  CAST(strlen(text) % 640 + 1 AS DOUBLE)
             |    / CAST(strlen(text) % 480 + 1 AS DOUBLE) AS r
             |  FROM documents WHERE CAST(doc_id % 3 AS INTEGER) = 0),
             |b AS (SELECT doc_id,
             |  CASE WHEN r < 0.6 THEN '9:16' WHEN r < 0.85 THEN '3:4'
             |       WHEN r < 1.15 THEN '1:1' WHEN r < 1.5 THEN '4:3'
             |       ELSE '16:9' END AS bucket FROM f)
             |SELECT doc_id, bucket,
             |  (row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1) // 16
             |    AS batch_idx
             |FROM b""".stripMargin)),

    // Media dedup by payload checksum — the exact-dup pass over a
    // binary asset store (crawled images/audio repeat constantly):
    // one hash groupBy on (kind, checksum) — d01's shape lifted to
    // binary columns — then a per-kind rollup. n_redundant is the
    // delete count an asset-dedup job would report. Scale: two keyed
    // aggs, the second over group-count-sized input.
    Q("m04_media_dedup",
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        import org.apache.spark.sql.functions._
        val feats = Multimodal.extractFeatures(
          Multimodal.mediaFromDocuments(Tables(s, dir, "documents"))).toDF()
        val groups = feats.groupBy(col("kind"), col("checksum"))
          .agg(count(lit(1)).as("n"))
        groups.groupBy(col("kind")).agg(
          sum(col("n")).as("n_media"),
          count(lit(1)).as("n_distinct"),
          sum(col("n") - lit(1L)).as("n_redundant"))
      },
      Some(s"""WITH f AS (SELECT doc_id,
              |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
              |       WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
              |  ${O.tokenHash("text")} AS checksum FROM documents),
              |g AS (SELECT kind, checksum, count(*) AS n FROM f
              |      GROUP BY kind, checksum)
              |SELECT kind, CAST(sum(n) AS BIGINT) AS n_media,
              |  CAST(count(*) AS BIGINT) AS n_distinct,
              |  CAST(sum(n - 1) AS BIGINT) AS n_redundant
              |FROM g GROUP BY kind""".stripMargin)),

    // Perceptual media dedup — m04's rollup with the grouping key
    // lifted from the exact checksum to the byte-4-gram simhash
    // (Multimodal.perceptualHash): near-identical payloads (the
    // re-encoded / trivially re-edited assets a crawl accumulates)
    // collide where the checksum can't, so n_redundant here ≥ m04's
    // per kind (pinned). Same two-keyed-agg scale shape: the phash
    // is a narrow decode-stage pass, then (kind, phash) counts and a
    // per-kind rollup — nothing pairwise, nothing corpus-sized past
    // the first agg. The DuckDB mirror recomputes the simhash from
    // the ASCII payload via char-code folds (the m01 contract).
    Q("m05_media_phash_dedup",
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        import org.apache.spark.sql.functions._
        val ph = Multimodal.perceptualHash(
          Multimodal.mediaFromDocuments(Tables(s, dir, "documents"))).toDF()
        val groups = ph.groupBy(col("kind"), col("phash"))
          .agg(count(lit(1)).as("n"))
        groups.groupBy(col("kind")).agg(
          sum(col("n")).as("n_media"),
          count(lit(1)).as("n_distinct"),
          sum(col("n") - lit(1L)).as("n_redundant"))
      },
      Some {
        val th = "list_transform(range(1, greatest(length(text) - 2, 1)), " +
          "gi -> ((((ord(text[gi]) * 31 + ord(text[gi+1])) * 31 + " +
          "ord(text[gi+2])) * 31 + ord(text[gi+3]))) % 1000000007)"
        s"""WITH f AS (SELECT doc_id,
           |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
           |       WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           |  ${O.simhashBits(24)} AS ph
           |  FROM (SELECT doc_id, $th AS th FROM documents)),
           |g AS (SELECT kind, ph, count(*) AS n FROM f
           |      GROUP BY kind, ph)
           |SELECT kind, CAST(sum(n) AS BIGINT) AS n_media,
           |  CAST(count(*) AS BIGINT) AS n_distinct,
           |  CAST(sum(n - 1) AS BIGINT) AS n_redundant
           |FROM g GROUP BY kind""".stripMargin
      }),

    // Video near-dup across re-encodes — m02's frame sampling composed
    // with m05's perceptual hash: the payload's pseudo-frames (equal
    // byte spans) are sampled at m02's even spacing, each sampled span
    // gets its 4-gram simhash, and the (phash·31 + pos) token hashes
    // fold into ONE order-aware per-video signature. A re-encode
    // (small byte edits — different m04 checksum) keeps most grams in
    // most sampled spans, so near-identical videos collide where the
    // exact checksum can't (MultimodalSpec pins such a collision).
    // Scale shape: one narrow decode-stage pass, one signature-keyed
    // agg, a 1-row rollup — nothing pairwise. The DuckDB mirror
    // replays the span arithmetic over the doc-level gram-hash list
    // (a frame's grams are a contiguous sublist) and both simhash
    // votes via the shared strict-majority helper.
    Q("m06_video_neardup",
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        import org.apache.spark.sql.functions._
        val sigs = Multimodal.videoSignatures(
          Multimodal.mediaFromDocuments(Tables(s, dir, "documents"))).toDF()
        sigs.groupBy(col("sig")).agg(count(lit(1)).as("n"))
          .agg(sum(col("n")).as("n_videos"),
            count(lit(1)).as("n_distinct"),
            sum(col("n") - lit(1L)).as("n_redundant"))
      },
      Some {
        s"""WITH ${videoSigCtesSql()},
           |g AS (SELECT sig, count(*) AS n FROM sg GROUP BY sig)
           |SELECT CAST(sum(n) AS BIGINT) AS n_videos,
           |  CAST(count(*) AS BIGINT) AS n_distinct,
           |  CAST(sum(n - 1) AS BIGINT) AS n_redundant
           |FROM g""".stripMargin
      }),

    // Streaming video signatures — m06's per-video perceptual
    // signature as continuous ingest (the v42/v43 frozen-artifact
    // pattern on the multimodal surface): each arriving video takes
    // its frame-sampled order-aware simhash in one stateless
    // mapPartitions pass — append mode, no state, no watermark,
    // O(batch) per micro-batch. With this, the media near-dup index
    // (m05/m06) is buildable continuously like every other index
    // artifact. Hash-gated against m06's own signature CTEs
    // restricted to the streamed slice: stream ≡ batch bit-for-bit.
    Q("m07_video_sig_stream",
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        import org.apache.spark.sql.functions._
        graft.streaming.StreamingOps.runToTable(s,
          Multimodal.videoSignatures(Multimodal.mediaFromDocuments(
            graft.streaming.StreamingOps.readDocuments(s, dir)
              .filter(col("doc_id") % 7 === 3))).toDF(),
          "append", "graft_m07_sink_")
      },
      Some(s"""WITH ${videoSigCtesSql(extraWhere = "AND doc_id % 7 = 3")}
              |SELECT doc_id, sig FROM sg""".stripMargin))
  )

  /** The m06 signature derivation as a reusable DuckDB CTE chain
    * (ends at `sg(doc_id, sig)`): byte 4-gram hashes replayed over
    * the text payload, evenly-spaced frame SPANS per the
    * Decoder.decode n_frames contract, per-span gram simhash, and the
    * (phash·31 + pos) token fold into one order-aware signature.
    * `extraWhere` restricts the video population (m07's streamed
    * slice) INSIDE the kind filter. NULL payloads coalesce to '' so a
    * null-text video yields nf=1/samples=1/empty gram list/sig 0 —
    * the Spark side's null contract (NullSafetySpec) — instead of
    * NULL propagating through the UNNEST and dropping the doc. */
  private def videoSigCtesSql(extraWhere: String = ""): String = {
    val gth = "list_transform(range(1, greatest(length(text) - 2, 1)), " +
      "gi -> ((((ord(text[gi]) * 31 + ord(text[gi+1])) * 31 + " +
      "ord(text[gi+2])) * 31 + ord(text[gi+3]))) % 1000000007)"
    s"""v AS (SELECT doc_id, strlen(text) AS len, $gth AS gth
       |      FROM (SELECT doc_id, COALESCE(text, '') AS text FROM documents
       |            WHERE CAST(doc_id % 3 AS INTEGER) = 2 $extraWhere)),
       |p AS (SELECT doc_id, len, gth, len % 30 + 1 AS nf,
       |        LEAST(len % 30 + 1, 4) AS samples,
       |        GREATEST(1, len // (len % 30 + 1)) AS span
       |      FROM v),
       |fr AS (SELECT doc_id, u.i AS fi, u.i * (nf // samples) AS pos,
       |         LEAST(u.i * (nf // samples) * span, len) AS f_from,
       |         LEAST((u.i * (nf // samples) + 1) * span, len) AS f_until,
       |         gth
       |       FROM p, UNNEST(generate_series(0, samples - 1)) AS u(i)),
       |fp AS (SELECT doc_id, fi, pos, ${O.simhashBits(24)} AS ph FROM
       |        (SELECT doc_id, fi, pos,
       |           gth[CAST(f_from + 1 AS BIGINT):CAST(GREATEST(f_until - 3, 0) AS BIGINT)] AS th
       |         FROM fr)),
       |tk AS (SELECT doc_id, fi, (ph * 31 + pos) % 1000000007 AS tok FROM fp),
       |sg AS (SELECT doc_id, ${O.simhashBits(24)} AS sig FROM
       |        (SELECT doc_id, list(tok ORDER BY fi) AS th FROM tk
       |         GROUP BY doc_id))""".stripMargin
  }
}
