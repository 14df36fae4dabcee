package graft.operators

import graft.{CorpusStats, IndexTower, QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}

/** Multimodal-column handling: media payloads as opaque `binary`
  * columns with typed metadata, and a decode / feature-extract /
  * frame-sample pipeline whose Spark-side plumbing (schema, typed
  * Dataset, partition-batched processing) is real while the actual
  * codec is a clearly-marked deterministic STUB (image/audio libraries
  * are not in this environment).
  *
  * At 100 TB: payloads stay columnar in parquet (binary column, never
  * driver-collected); decode runs inside `mapPartitions` so a real
  * codec would amortize per-partition init (model load, JNI handles) —
  * the exact shape a Pandas-UDF/`mapInPandas` batch has in PySpark.
  */
object Multimodal {

  /** One media record entering the decode stage. */
  final case class MediaRecord(doc_id: Long, payload: Array[Byte],
      media_type: String, n_bytes: Long)

  /** Extracted features leaving the decode stage. */
  final case class MediaFeatures(doc_id: Long, media_type: String,
      n_bytes: Long, width: Int, height: Int, n_frames: Int,
      checksum: String)

  /** m08's signature width: 60 grid positions (the d04 bit-width
    * convention); every 16-char payload block folds onto position
    * (block index mod 60), so the WHOLE payload reaches the
    * fingerprint at fixed output size — pHash's
    * downscale-the-whole-image discipline. Declared BEFORE `queries`
    * — the oracle string is materialized at object init (the p03/p08
    * init-order trap). */
  private[graft] val PHashBits = 60

  /** STUB decoder: a real implementation would parse the container
    * and codec here (e.g. JPEG markers / WAV headers / MP4 atoms).
    * This deterministic fake derives "decoded" dimensions from the
    * payload so the pipeline shape — per-partition batching, typed
    * output schema — is fully exercised and testable. */
  private def decodeStub(r: MediaRecord): MediaFeatures = {
    val w = (r.n_bytes % 640).toInt
    val h = ((r.doc_id * 7) % 480).toInt
    val frames = (r.n_bytes / 1000).toInt + 1
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(r.payload).map("%02x".format(_)).mkString
    MediaFeatures(r.doc_id, r.media_type, r.n_bytes, w, h, frames, digest)
  }

  /** m04's pooled per-video media embedding (doc_id, n_frames,
    * e0..e3): sampled frames → stub per-frame features (md5-derived
    * 16-bit ints standing in for the encoder output) → element-wise
    * decimal-exact MEAN. Shared by m04 (gated directly) and m07 (the
    * media tower of the alignment filter). */
  private def pooledFrameEmbedding(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    pooledFrameEmbeddingOf(new Tables(s, d).documents)

  /** The same chain over an arbitrary (doc_id, text) frame — the
    * st20 streaming entry feeds micro-batches through it (a doc's
    * frames all explode from its own row, so per-doc pooling never
    * crosses a batch boundary). */
  private[graft] def pooledFrameEmbeddingOf(
      docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.Exact
    val frames = docs
      .filter(col("doc_id") % 3 === 2) // the 'video' stripe
      .withColumn("n_chunks",
        expr("cast(length(text) div 1000 as int) + 1"))
      .select(col("doc_id"),
        explode(expr("sequence(0, n_chunks - 1, 3)")).as("frame_idx"),
        col("text"))
      .withColumn("frame_md5",
        md5(expr("substr(text, frame_idx * 1000 + 1, 1000)")))
    val feats = (0 until 4).foldLeft(frames) { (df, i) =>
      df.withColumn(s"f$i",
        conv(substring(col("frame_md5"), 1 + 4 * i, 4), 16, 10)
          .cast("long"))
    }
    feats.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        Exact.davg(col("f0"), 0).as("e0"),
        Exact.davg(col("f1"), 0).as("e1"),
        Exact.davg(col("f2"), 0).as("e2"),
        Exact.davg(col("f3"), 0).as("e3"))
  }

  /** The m04 chain's oracle twin, ending at GROUP BY (composable:
    * m04 appends its ORDER BY; m07 wraps it in a CTE). */
  private def pooledFrameEmbeddingSql: String =
    s"""SELECT doc_id, COUNT(*) AS n_frames,
          ${(0 until 4).map(i => graft.Exact.sqlAvg(s"f$i", 0) + s" AS e$i")
            .mkString(", ")}
        FROM (SELECT doc_id,
                ${(0 until 4).map(i =>
                  s"('0x' || substr(frame_md5, ${1 + 4 * i}, 4))::BIGINT AS f$i")
                  .mkString(", ")}
          FROM (SELECT doc_id,
                  md5(substr(text, frame_idx * 1000 + 1, 1000)) AS frame_md5
                FROM (SELECT doc_id, text,
                        CAST(length(text) // 1000 AS INT) + 1 AS n_chunks
                      FROM documents WHERE doc_id % 3 = 2),
                     UNNEST(generate_series(0, n_chunks - 1, 3)) AS u(frame_idx)))
        GROUP BY doc_id"""

  /** m07's alignment filter over an arbitrary (doc_id, text) batch —
    * m07 passes the whole documents table; st20 feeds micro-batches
    * (per-doc answers depend only on the doc's own text + its static
    * text embedding, so batch slicing changes nothing and ONE oracle
    * gates both — the hybridServeBatch discipline for the multimodal
    * stage). */
  private[graft] def crossModalAlignBatch(s: SparkSession, d: String,
      batch: DataFrame): DataFrame = {
    val media = pooledFrameEmbeddingOf(batch)
      .withColumn("me",
        array(col("e0"), col("e1"), col("e2"), col("e3")))
    def blockMean(j: Int) =
      (expr(
        s"""aggregate(slice(embedding, ${j * 16 + 1}, 16),
            cast(0 as bigint),
            (acc, x) -> acc + cast(floor(cast(x as double) * 1e10
              + 0.5d) as bigint))""").cast("double")
        / lit(1e10) / lit(16.0))
    val text = new Tables(s, d).embeddings
      .select(col("vec_id").as("doc_id"),
        array((0 until 4).map(blockMean): _*).as("te"))
    def fold(a: String, b: String) =
      s"""aggregate(zip_with($a, $b, (x, y) -> x * y),
          cast(0.0 as double), (acc, x) -> acc + x)"""
    media.join(text, "doc_id")
      .withColumn("cos_align",
        expr(fold("me", "te")) /
          (sqrt(expr(fold("me", "me"))) *
            sqrt(expr(fold("te", "te")))))
      .select(col("doc_id"), col("n_frames"), col("cos_align"),
        (col("cos_align") >= lit(0.0)).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** m07's twin — also st20's (slicing-independence makes the
    * streamed union answer-identical to the batch). */
  private[graft] def crossModalOracleSql: String =
    s"""WITH med AS ($pooledFrameEmbeddingSql),
        txt AS (SELECT vec_id AS doc_id,
            ${(0 until 4).map(j =>
              s"""CAST(list_sum(list_transform(
                    list_slice(v, ${j * 16 + 1}, ${j * 16 + 16}),
                    x -> CAST(floor(x * 1e10 + 0.5) AS BIGINT)))
                  AS DOUBLE) / 1e10 / 16 AS t$j""").mkString(", ")}
          FROM (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings)),
        paired AS (SELECT m.doc_id, m.n_frames,
            list_value(m.e0, m.e1, m.e2, m.e3) AS me,
            list_value(t.t0, t.t1, t.t2, t.t3) AS te
          FROM med m JOIN txt t USING (doc_id))
        SELECT doc_id, n_frames,
          list_sum(list_transform(list_zip(me, te), z -> z[1] * z[2]))
            / (sqrt(list_sum(list_transform(list_zip(me, me),
                 z -> z[1] * z[2])))
             * sqrt(list_sum(list_transform(list_zip(te, te),
                 z -> z[1] * z[2])))) AS cos_align,
          (list_sum(list_transform(list_zip(me, te), z -> z[1] * z[2]))
            / (sqrt(list_sum(list_transform(list_zip(me, me),
                 z -> z[1] * z[2])))
             * sqrt(list_sum(list_transform(list_zip(te, te),
                 z -> z[1] * z[2]))))) >= 0.0 AS keep
        FROM paired ORDER BY doc_id"""

  val queries: Seq[QueryDef] = Seq(

    // ----- m01: binary payload + typed metadata columns, scalar
    // feature extraction kept inside codegen (no UDF): byte length,
    // stub dimensions, md5 checksum. Fully SQL-expressible → oracled.
    QueryDef(
      "m01_media_metadata",
      (s, d) => new Tables(s, d).documents
        .withColumn("payload", encode(col("text"), "utf-8"))
        .select(
          col("doc_id"),
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio")
            .otherwise("video").as("media_type"),
          length(col("payload")).cast(LongType).as("n_bytes"),
          (length(col("payload")) % 640).cast(IntegerType).as("width"),
          ((col("doc_id") * 7) % 480).cast(IntegerType).as("height"),
          expr("cast(cast(length(payload) as bigint) div 1000 as int)")
            .as("n_frames_base"),
          md5(col("payload")).as("checksum"))
        .withColumn("n_frames", (col("n_frames_base") + 1).cast(IntegerType))
        .drop("n_frames_base")
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
          CASE WHEN doc_id % 3 = 0 THEN 'image'
               WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
          CAST(octet_length(payload) AS BIGINT) AS n_bytes,
          CAST(octet_length(payload) % 640 AS INT) AS width,
          CAST((doc_id * 7) % 480 AS INT) AS height,
          md5(text) AS checksum,
          CAST(octet_length(payload) // 1000 + 1 AS INT) AS n_frames
        FROM (SELECT doc_id, text, encode(text) AS payload FROM documents)
        ORDER BY doc_id""")),

    // ----- m02: the typed decode pipeline — Dataset[MediaRecord] →
    // mapPartitions(decodeStub) → Dataset[MediaFeatures]. The stub is
    // deterministic, so the md5 checksum column still oracles against
    // DuckDB; the point under test is the partition-batched plumbing.
    QueryDef(
      "m02_media_decode_pipeline",
      (s, d) => {
        implicit val recEnc: Encoder[MediaRecord] =
          Encoders.product[MediaRecord]
        implicit val featEnc: Encoder[MediaFeatures] =
          Encoders.product[MediaFeatures]
        val records = new Tables(s, d).documents
          .withColumn("payload", encode(col("text"), "utf-8"))
          .select(col("doc_id"), col("payload"),
            when(col("doc_id") % 3 === 0, "image")
              .when(col("doc_id") % 3 === 1, "audio")
              .otherwise("video").as("media_type"),
            length(col("payload")).cast(LongType).as("n_bytes"))
          .as[MediaRecord]
        records
          .mapPartitions(_.map(decodeStub))
          .toDF()
          .select(col("doc_id"), col("media_type"), col("n_bytes"),
            col("width"), col("height"), col("n_frames"), col("checksum"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
          CASE WHEN doc_id % 3 = 0 THEN 'image'
               WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
          CAST(octet_length(payload) AS BIGINT) AS n_bytes,
          CAST(octet_length(payload) % 640 AS INT) AS width,
          CAST((doc_id * 7) % 480 AS INT) AS height,
          CAST(octet_length(payload) // 1000 + 1 AS INT) AS n_frames,
          md5(text) AS checksum
        FROM (SELECT doc_id, text, encode(text) AS payload FROM documents)
        ORDER BY doc_id""")),

    // ----- m03: frame sampling — every 3rd fixed-size chunk of each
    // "video" payload becomes a frame row (offset + checksum), the
    // explode shape a real video pipeline has (frame index → byte
    // range → decoded tensor). One Generate per row, output linear in
    // sampled frames; at 100 TB the per-frame decode slots into m02's
    // mapPartitions stage downstream of exactly this explode.
    QueryDef(
      "m03_frame_sample",
      (s, d) => new Tables(s, d).documents
        .filter(col("doc_id") % 3 === 2) // the 'video' stripe
        .withColumn("n_chunks",
          expr("cast(length(text) div 1000 as int) + 1"))
        .select(col("doc_id"), col("n_chunks"),
          explode(expr("sequence(0, n_chunks - 1, 3)")).as("frame_idx"),
          col("text"))
        .select(col("doc_id"), col("n_chunks"), col("frame_idx"),
          length(expr("substr(text, frame_idx * 1000 + 1, 1000)"))
            .cast("long").as("frame_len"),
          md5(expr("substr(text, frame_idx * 1000 + 1, 1000)"))
            .as("frame_md5"))
        .orderBy(col("doc_id"), col("frame_idx")),
      Some("""SELECT doc_id, n_chunks, CAST(u.frame_idx AS INT) AS frame_idx,
          CAST(length(substr(text, frame_idx * 1000 + 1, 1000)) AS BIGINT)
            AS frame_len,
          md5(substr(text, frame_idx * 1000 + 1, 1000)) AS frame_md5
        FROM (SELECT doc_id, text,
                CAST(length(text) // 1000 AS INT) + 1 AS n_chunks
              FROM documents WHERE doc_id % 3 = 2),
             UNNEST(generate_series(0, n_chunks - 1, 3)) AS u(frame_idx)
        ORDER BY doc_id, frame_idx""")),

    // ----- m04: per-video POOLED EMBEDDING — the aggregation a video
    // pipeline runs after per-frame encoding: each sampled frame maps
    // to a (stub) feature vector (md5-derived ints standing in for the
    // encoder output), and the video's embedding is the element-wise
    // MEAN over its frames. Means go through the decimal-exact sum
    // (s08's trick) so Spark's partial aggregation and the oracle's
    // sequential sum agree bit-for-bit. Shape at 100 TB: the m03
    // explode (linear in sampled frames) → one shuffle on doc_id with
    // map-side partial means; the frame encoder slots into m02's
    // mapPartitions just upstream.
    QueryDef(
      "m04_frame_embedding",
      (s, d) => pooledFrameEmbedding(s, d).orderBy(col("doc_id")),
      Some(s"$pooledFrameEmbeddingSql ORDER BY doc_id")),

    // ----- m07: CROSS-MODAL ALIGNMENT FILTER — the CLIP-score
    // curation step that decides which media-text pairs enter
    // training (the LAION pipeline shape): the media tower's pooled
    // embedding (m04's per-video frame mean, 4 stub dims) against the
    // TEXT tower's embedding for the SAME doc (the embeddings table,
    // block-pooled 64→4 so the towers share a space), scored by
    // cosine, gated by a thresholded keep bit. Everything deciding
    // the bit is cross-engine exact: media dims are m04's
    // decimal-exact means, text dims are floor(x·1e10+0.5) BIGINT
    // block sums (the s08 quantization discipline), and dot/norms are
    // the same left-assoc folds in both engines (IEEE mul/div/sqrt
    // are correctly rounded, so identical inputs give identical
    // cosines — the s01 contract). Plan: m04's chain (frame explode +
    // ONE doc_id shuffle with map-side partial means) + one key
    // equi-join against the embeddings scan — no new shuffle shape,
    // linear at 100 TB; the real CLIP towers slot into m02's
    // mapPartitions stage upstream without changing this plan.
    QueryDef(
      "m07_crossmodal_align",
      (s, d) => crossModalAlignBatch(s, d,
        new Tables(s, d).documents.select(col("doc_id"), col("text"))),
      Some(crossModalOracleSql)),

    // ----- m05: MODALITY-AWARE SEQUENCE PACKING — the VLM training-
    // data step text-only packing (p02) can't do: each record costs
    // its TEXT tokens PLUS its media's token footprint under m01's
    // stub frame model (image = one 64-token tile; audio = 8 tokens
    // per frame; video = 64 per sampled frame — the projector-output
    // budget an interleaved image-text model trains on), and records
    // pack into 4096-token sequences with p02's md5-dealt shard
    // discipline (embarrassingly parallel, bit-deterministic). Output
    // per sequence: document count, text/media token split, and the
    // modality mix — what a data loader needs to budget attention.
    // Scale: one projection + one per-shard running-sum window + one
    // rollup; no joins. All integer arithmetic.
    QueryDef(
      "m05_multimodal_pack",
      (s, d) => new Tables(s, d).documents
        .withColumn("payload", encode(col("text"), "utf-8"))
        .select(col("doc_id"),
          size(expr("split(lower(trim(text)), '\\\\s+')"))
            .cast(LongType).as("n_tok"),
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio")
            .otherwise("video").as("media_type"),
          (expr("cast(length(payload) as bigint) div 1000") + 1)
            .as("n_frames"))
        .withColumn("media_tok",
          when(col("media_type") === "image", 64L)
            .when(col("media_type") === "audio", col("n_frames") * 8L)
            .otherwise(col("n_frames") * 64L))
        .withColumn("cost", col("n_tok") + col("media_tok"))
        .withColumn("shard",
          (conv(substring(md5(concat(lit("mshard:"),
            col("doc_id").cast("string"))), 1, 7), 16, 10)
            .cast("long") % 8).cast("int"))
        .withColumn("cum", sum(col("cost")).over(
          Window.partitionBy(col("shard")).orderBy(col("doc_id"))))
        .withColumn("pack_id", expr("(cum - cost) div 4096"))
        .groupBy(col("shard"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_text_tokens"),
          sum(col("media_tok")).as("n_media_tokens"),
          sum(when(col("media_type") === "image", 1L).otherwise(0L))
            .as("n_images"),
          sum(when(col("media_type") === "audio", 1L).otherwise(0L))
            .as("n_audio"),
          sum(when(col("media_type") === "video", 1L).otherwise(0L))
            .as("n_video"))
        .orderBy(col("shard"), col("pack_id")),
      Some("""WITH base AS (
          SELECT doc_id,
            CAST(len(string_split_regex(lower(trim(text)), '\s+'))
              AS BIGINT) AS n_tok,
            CASE WHEN doc_id % 3 = 0 THEN 'image'
                 WHEN doc_id % 3 = 1 THEN 'audio'
                 ELSE 'video' END AS media_type,
            CAST(octet_length(encode(text)) // 1000 + 1 AS BIGINT)
              AS n_frames
          FROM documents),
        costed AS (SELECT doc_id, n_tok, media_type,
            CASE WHEN media_type = 'image' THEN 64
                 WHEN media_type = 'audio' THEN n_frames * 8
                 ELSE n_frames * 64 END AS media_tok,
            CAST(('0x' || substr(md5('mshard:' || CAST(doc_id AS VARCHAR)),
              1, 7))::BIGINT % 8 AS INT) AS shard
          FROM base),
        packed AS (SELECT shard, doc_id, n_tok, media_tok, media_type,
            CAST((SUM(n_tok + media_tok) OVER (PARTITION BY shard
              ORDER BY doc_id) - (n_tok + media_tok)) // 4096 AS BIGINT)
              AS pack_id
          FROM costed)
        SELECT shard, pack_id, COUNT(*) AS n_docs,
          CAST(SUM(n_tok) AS BIGINT) AS n_text_tokens,
          CAST(SUM(media_tok) AS BIGINT) AS n_media_tokens,
          CAST(SUM(CASE WHEN media_type = 'image' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_images,
          CAST(SUM(CASE WHEN media_type = 'audio' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_audio,
          CAST(SUM(CASE WHEN media_type = 'video' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_video
        FROM packed GROUP BY shard, pack_id ORDER BY shard, pack_id""")),

    // ----- m06: RESIZE — aspect-fit every decoded frame into the
    // training resolution (224×224), the normalization step between
    // decode (m02) and feature extraction (m04) in every vision
    // pipeline. The GEOMETRY is pure integer arithmetic — out_w =
    // max(1, w·224 div max(w,h)), likewise out_h, so the long side
    // lands exactly on 224 and aspect ratio is preserved to integer
    // truncation — and is therefore oracle-exact; only the pixel
    // resample itself would live in the m02-style stub stage (a real
    // codec slots into the same mapPartitions). The resized payload
    // is represented by a deterministic provenance digest
    // md5(checksum:out_w x out_h) — content-addressed like m02's
    // checksum, so downstream stages can dedup identical resizes.
    // Plan: one codegen'd projection over m02's decode output — no
    // shuffle, linear at 100 TB.
    QueryDef(
      "m06_media_resize",
      (s, d) => {
        implicit val recEnc: Encoder[MediaRecord] =
          Encoders.product[MediaRecord]
        implicit val featEnc: Encoder[MediaFeatures] =
          Encoders.product[MediaFeatures]
        val records = new Tables(s, d).documents
          .withColumn("payload", encode(col("text"), "utf-8"))
          .select(col("doc_id"), col("payload"),
            when(col("doc_id") % 3 === 0, "image")
              .when(col("doc_id") % 3 === 1, "audio")
              .otherwise("video").as("media_type"),
            length(col("payload")).cast(LongType).as("n_bytes"))
          .as[MediaRecord]
        records.mapPartitions(_.map(decodeStub)).toDF()
          .filter(col("media_type") =!= "audio") // nothing to resize
          .withColumn("w1", greatest(lit(1), col("width")))
          .withColumn("h1", greatest(lit(1), col("height")))
          .withColumn("out_w",
            greatest(lit(1L), expr("(w1 * 224) div greatest(w1, h1)")))
          .withColumn("out_h",
            greatest(lit(1L), expr("(h1 * 224) div greatest(w1, h1)")))
          .select(col("doc_id"), col("media_type"),
            col("width").cast(LongType).as("width"),
            col("height").cast(LongType).as("height"),
            col("out_w"), col("out_h"),
            md5(concat(col("checksum"), lit(":"),
              col("out_w").cast("string"), lit("x"),
              col("out_h").cast("string"))).as("resized_checksum"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH dec AS (
          SELECT doc_id,
            CASE WHEN doc_id % 3 = 0 THEN 'image'
                 WHEN doc_id % 3 = 1 THEN 'audio'
                 ELSE 'video' END AS media_type,
            GREATEST(1, CAST(octet_length(encode(text)) % 640 AS INT))
              AS w1,
            GREATEST(1, CAST((doc_id * 7) % 480 AS INT)) AS h1,
            CAST(octet_length(encode(text)) % 640 AS BIGINT) AS width,
            CAST((doc_id * 7) % 480 AS BIGINT) AS height,
            md5(text) AS checksum
          FROM documents),
        rs AS (
          SELECT doc_id, media_type, width, height,
            GREATEST(1, (w1 * 224) // GREATEST(w1, h1)) AS out_w,
            GREATEST(1, (h1 * 224) // GREATEST(w1, h1)) AS out_h,
            checksum
          FROM dec WHERE media_type <> 'audio')
        SELECT doc_id, media_type, width, height,
          CAST(out_w AS BIGINT) AS out_w, CAST(out_h AS BIGINT) AS out_h,
          md5(checksum || ':' || CAST(out_w AS VARCHAR) || 'x'
            || CAST(out_h AS VARCHAR)) AS resized_checksum
        FROM rs ORDER BY doc_id""")),

    // ----- m08: PERCEPTUAL-HASH MEDIA DEDUP — the pHash-style
    // near-dup pass a LAION-shape multimodal curation pipeline runs
    // over decoded media (exact-checksum dedup catches only
    // bit-identical payloads; re-encoded / tail-edited copies need a
    // content-stable fingerprint). pHash's structure on the stub
    // codec: EVERY 16-char payload block folds onto a fixed
    // 60-position grid (block j → position j mod 60, parity per
    // position) — the whole payload reaches the signature at fixed
    // output size, pHash's downscale-the-whole-image discipline (a
    // leading-window signature collided template-sharing docs into
    // quadratic pair clusters at ×100 — the r17-s3 probe lesson); a
    // block edit flips only its own position's parity with p=1/2,
    // and near-dups are pairs within hamming ≤ bands−1, found by
    // d04's lossless band-bucket join (pigeonhole), NEVER all-pairs.
    // Position-stable folding is append/truncate-robust (the
    // corpus's observed duplication mode: tail-edited copies) and
    // alignment-sensitive to interior insertions — that trade is
    // pHash's own (grid-stable, not shift-invariant); shingle-level
    // shift robustness is d03/d09's job upstream. Band count follows
    // d04's adaptive rule on the VIDEO-stripe count (threshold
    // tightens as n grows past each band-space boundary — the
    // hash-luck tail grows ~n², true dups ~n), derived identically
    // from COUNT(*) by the twin. Scale: one linear signature pass,
    // one (band, chunk)-bucketed self-join at occupancy n/2^15.
    QueryDef(
      "m08_perceptual_dedup",
      (s, d) => {
        val n = videoCount(s, d)
        val bands = Dedup.adaptiveSimHashBands(PHashBits, n)
        perceptualPairsOf(
          new Tables(s, d).documents.filter(col("doc_id") % 3 === 2),
          bands)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(perceptualOracleSql)),

    // ----- m09: ENTROPY-FLOORED TWO-TIER PERCEPTUAL DEDUP — m08's
    // ×100 luck tail, SHED at the mechanism. The r19 band probe
    // root-caused the tail to hamming-space crowding by short-doc
    // signatures; the documented "wider grid" escape was then probed
    // (PLANS.md r19 item 7) and REFUTED: 95% of the ×100 media stripe is
    // sub-grid (fewer payload blocks than grid positions), a wider
    // grid leaves every sub-grid signature bit-identical while its
    // coupled hamming threshold LOOSENS (bands−1 = 3 at 120 bits) —
    // measured 3.2× MORE pairs at 98.9% luck. What did work: the
    // grid-FILLING stratum produced zero luck pairs — crowding is
    // CONTENT entropy, not geometry. So m09 floors the perceptual
    // tier at the entropy the pair population demands (2^nb ≥ 4n²,
    // the band rule's occupancy discipline one level up), and routes
    // sub-floor docs to an EXACT md5 tier — bit-equality being the
    // only dup claim a low-entropy payload can support (the industry
    // shape: tiny files skip perceptual hashing). Measured at ×100,
    // the rule's floor (37) lands exactly at the zero-luck knee:
    // 1,481 pairs, ZERO cross-copy (floor 24 → 856 cross, 32 → 2,
    // 37+ → 0), in 4.7 s vs m08's 10.5M pairs at 98.9% luck in
    // 113 s — and floors above it only shed same-copy evidence
    // (40 → 1,349, 48 → 594). Scale: the floor is one integer from
    // the cached stripe count; both tiers are bucketed equi-joins
    // (never all-pairs); the exact tier's output is bounded by true
    // bit-identical duplication.
    QueryDef(
      "m09_perceptual_two_tier",
      (s, d) => {
        val video = new Tables(s, d).documents
          .filter(col("doc_id") % 3 === 2)
        val floor = entropyFloorBlocks(videoCount(s, d))
        val bands = Dedup.adaptiveSimHashBands(PHashBits,
          perceptualTierCount(s, d, floor))
        val per = perceptualPairsOfSigs(
            perceptualHashesOf(video).filter(col("nb") >= floor), bands)
          .select(col("id_a"), col("id_b"),
            lit("perceptual").as("tier"), col("hamming"))
        val sub = video
          .withColumn("nb", greatest(lit(1),
            expr("cast((length(text) + 15) div 16 as int)")))
          .filter(col("nb") < floor)
          .select(col("doc_id"), md5(col("text")).as("ck"))
        val exact = sub.as("a")
          .join(sub.as("b"),
            col("a.ck") === col("b.ck")
              && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"),
            col("b.doc_id").as("id_b"),
            lit("exact").as("tier"), lit(0L).as("hamming"))
        per.unionByName(exact)
          .orderBy(col("tier"), col("id_a"), col("id_b"))
      },
      Some(perceptualTwoTierOracleSql)),

    // ----- m10: THE PHASH TOWER'S MAINTENANCE GATE — the s29/s30/
    // d14 always-due-lifecycle discipline for the two-tier gate's
    // persisted index: the QueryDef ages the tower FOR REAL (a
    // base-only build whose nightly append never landed — 1/7 of the
    // media corpus stripe missing, the meta's nd recording the hole
    // AND the count-derived geometry frozen to the smaller
    // population), runs maintainPhashIndex on the DEFAULT dials
    // (coverage ~0.857 < 0.98 must fire), and serves the delta
    // stripe's two-tier gate from whatever the maintain left behind,
    // with the geometry read from the META (the serve contract). The
    // oracle is st24's twin VERBATIM (the selfcheck memoizes the
    // shared string), so a maintain that silently skipped the
    // rebuild would probe an index missing 1/7 of the corpus with
    // stale geometry — hits against the missing stripe disappear —
    // and fail the hash gate.
    QueryDef(
      "m10_phash_maintained_gate",
      (s, d) => {
        persistPhashIndex(s, d, col("doc_id") % 7 =!= 0)
        maintainPhashIndex(s, d)
        PhTower.refresh(s)
        val m = s.table("m09_ph_meta").head()
        twoTierGateBatch(
          new Tables(s, d).documents
            .filter(col("doc_id") % 3 === 2)
            .filter(col("doc_id") % 5 === 0)
            .select(col("doc_id"), col("text")),
          s.table("m09_ph_bands"), s.table("m09_ph_cks"),
          m.getAs[Int]("floor"), m.getAs[Int]("bands"))
          .orderBy(col("doc_id"))
      },
      Some(twoTierGateOracleSql))
  )

  /** Per-doc perceptual hash over `docs` (doc_id, text): the WHOLE
    * payload folds onto a fixed 60-position grid — block j (16
    * chars) contributes its md5 top bit to position j mod 60, and
    * each position's bit is the PARITY of its blocks' bits (exact
    * integer arithmetic, cross-engine identical). This is pHash's
    * downscale-the-whole-image discipline: every byte of content
    * reaches the signature, so two documents sharing only a prefix
    * template do NOT collide (the r17-s3 lesson: a leading-960-byte
    * signature collided template-sharing docs into quadratic pair
    * clusters at ×100 — retention 3.38), while a tail edit still
    * touches only its own blocks' positions. */
  private[graft] def perceptualHashesOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("nb",
        greatest(lit(1), expr("cast((length(text) + 15) div 16 as int)")))
      .select(col("doc_id"), col("nb"),
        explode(expr("sequence(0, nb - 1)")).as("j"),
        col("text"))
      .withColumn("pos", (col("j") % PHashBits).cast("int"))
      .withColumn("bit",
        (conv(substring(md5(expr("substr(text, j * 16 + 1, 16)")), 1, 1),
          16, 10).cast("int") >= 8).cast("int"))
      .groupBy(col("doc_id"), col("nb"), col("pos"))
      .agg((sum(col("bit")) % 2).as("par"))
      .groupBy(col("doc_id"), col("nb"))
      .agg(sum(expr("par * cast(pow(2, pos) as bigint)")).as("phash"))
      .select(col("doc_id"), col("nb"),
        col("phash").cast("long").as("phash"))

  /** [[perceptualHashesOf]] exploded to its (band, chunk) bucket
    * keys — the lossless candidate-join key space (pigeonhole:
    * hamming ≤ bands−1 ⇒ at least one identical band). */
  private[graft] def bandedPhash(docs: DataFrame,
      bands: Int): DataFrame =
    bandedPhashOfSigs(perceptualHashesOf(docs), bands)

  /** The (band, chunk) explode over an existing signature frame. */
  private[graft] def bandedPhashOfSigs(sigs: DataFrame,
      bands: Int): DataFrame = {
    val bandBits = PHashBits / bands
    sigs
      .withColumn("band", explode(expr(s"sequence(0, ${bands - 1})")))
      .withColumn("chunk", expr(
        s"(phash div cast(pow(2, band * $bandBits) as bigint)) " +
          s"% ${1L << bandBits}"))
  }

  /** Banded near-dup pairs over [[perceptualHashesOf]] at hamming ≤
    * bands−1 (lossless by pigeonhole — d04's discipline verbatim):
    * shuffles on (band, chunk), never all-pairs. */
  private[graft] def perceptualPairsOf(docs: DataFrame,
      bands: Int): DataFrame =
    perceptualPairsOfSigs(perceptualHashesOf(docs), bands)

  /** [[perceptualPairsOf]] from an already-computed signature frame
    * (doc_id, phash) — m09's entropy-floored tier filters the
    * signatures FIRST, then pairs only what survives. */
  private[graft] def perceptualPairsOfSigs(sigs: DataFrame,
      bands: Int): DataFrame = {
    val banded = bandedPhashOfSigs(sigs, bands)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band")
          && col("a.chunk") === col("b.chunk")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.phash").as("phash_a"), col("b.phash").as("phash_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("phash_a").bitwiseXOR(col("phash_b")))
          .cast("long"))
      .filter(col("hamming") <= bands - 1)
  }

  /** Per-batch perceptual ADMISSION GATE (st22) — the st15/d10 probe
    * shape for the media stage: the batch's signatures band-join a
    * PERSISTED banded corpus index ([[bandedPhash]] written once
    * nightly), candidates verify at hamming ≤ bands−1 (lossless —
    * every true near-dup shares a band by pigeonhole, so the gate is
    * recall-safe by construction), and each batch doc emits its
    * perceptual-dup count + the `is_new` admission bit. Per-batch
    * work is O(|batch|·bands) probe rows against bucket occupancy
    * n/2^bandBits — the corpus index is scanned, never re-hashed. */
  private[graft] def perceptualGateBatch(batch: DataFrame,
      idx: DataFrame, bands: Int): DataFrame = {
    val hits = bandedPhash(batch, bands).as("d")
      .join(idx.as("c"),
        col("d.band") === col("c.band")
          && col("d.chunk") === col("c.chunk"))
      .select(col("d.doc_id").as("doc_id"),
        col("c.doc_id").as("c_id"),
        col("d.phash").as("phash"), col("c.phash").as("c_phash"))
      .distinct()
      .filter(bit_count(col("phash").bitwiseXOR(col("c_phash")))
        <= bands - 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dups"))
    perceptualHashesOf(batch)
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("phash"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"))
      .withColumn("is_new", col("n_dups") === 0L)
  }

  /** Per-batch TWO-TIER admission gate (st24) — m09's semantics in
    * st22's probe shape: a batch doc at or above the entropy floor
    * band-joins the PERSISTED floored corpus index and verifies at
    * hamming ≤ bands−1; a sub-floor doc equi-joins the corpus's
    * exact-checksum table (bit-identity being the only dup claim its
    * entropy supports). Each doc lands in exactly one tier and emits
    * its dup count + the `is_new` admission bit. Per-batch work is
    * O(|batch|·bands) probe rows against floored-bucket occupancy
    * plus one checksum equi-join — the corpus is scanned, never
    * re-hashed. */
  private[graft] def twoTierGateBatch(batch: DataFrame,
      tierIdx: DataFrame, subIdx: DataFrame, floor: Int,
      bands: Int): DataFrame = {
    val sigs = perceptualHashesOf(batch)
    val tierHits = bandedPhashOfSigs(
        sigs.filter(col("nb") >= floor), bands).as("d")
      .join(tierIdx.as("c"),
        col("d.band") === col("c.band")
          && col("d.chunk") === col("c.chunk"))
      .select(col("d.doc_id").as("doc_id"),
        col("c.doc_id").as("c_id"),
        col("d.phash").as("phash"), col("c.phash").as("c_phash"))
      .distinct()
      .filter(bit_count(col("phash").bitwiseXOR(col("c_phash")))
        <= bands - 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dups"))
    val exactHits = batch
      .withColumn("nb", greatest(lit(1),
        expr("cast((length(text) + 15) div 16 as int)")))
      .filter(col("nb") < floor)
      .select(col("doc_id"), md5(col("text")).as("ck"))
      .join(subIdx.select(col("ck")), "ck")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dups"))
    sigs.select(col("doc_id"), col("nb"))
      .join(tierHits.unionByName(exactHits), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("nb") >= floor, "perceptual").otherwise("exact")
          .as("tier"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"))
      .withColumn("is_new", col("n_dups") === 0L)
  }

  // The persisted PHASH TOWER (st24's floored band index + sub-floor
  // checksum table, on the same persisted-table discipline as the PQ
  // (s18), lexical (s21) and LSH (d10) towers): build once nightly,
  // probe per delta batch, audit + rebuild-when-due through
  // `Maintenance.maintainIndexes`. Unlike the other towers the
  // GEOMETRY here is count-DERIVED, not conf-dialed — the entropy
  // floor and band count both follow the corpus stripe's size — so
  // ensure checks only the tower's source stamp (a rewritten corpus
  // rebuilds), and the AUDIT re-derives the geometry from live counts.

  /** v2 added the source stamp. */
  private[graft] val PhMetaSchemaVer = 2
  private[graft] val PhAuditSample = 256L
  private[graft] val PhMinCoverage = 0.98
  private[graft] val PhMaxDefect = 0.02

  private val nbExpr =
    greatest(lit(1), expr("cast((length(text) + 15) div 16 as int)"))

  /** The persisted phash gate index (m09) over `documents`. */
  private[graft] val PhTower = new IndexTower("m09_ph_meta",
    Seq("m09_ph_bands", "m09_ph_cks"), "documents", PhMetaSchemaVer)

  /** The historical-corpus media stripe the tower covers (st24's
    * split: doc_id % 5 == 0 is "today's ingest"). */
  private def phStripe(s: SparkSession, d: String): DataFrame =
    new Tables(s, d).documents
      .filter(col("doc_id") % 3 === 2)
      .filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), col("text"))

  /** Build + persist the two-tier gate's corpus side: the FLOORED
    * tier's banded signatures plus the sub-floor stripe's exact
    * checksums, with a meta row freezing the doc count and the
    * derived (floor, bands) geometry — the serve path must probe
    * with the INDEX's geometry, not re-derive its own. `docGate`
    * exists for specs and the m10 aging gate (the meta's nd records
    * what was actually indexed, so the coverage audit sees the
    * hole). */
  private[graft] def persistPhashIndex(s: SparkSession, d: String,
      docGate: org.apache.spark.sql.Column = lit(true)): Unit = {
    val stripe = phStripe(s, d).filter(docGate)
    val nd = stripe.count()
    val floor = entropyFloorBlocks(nd)
    val tierDocs = stripe.filter(nbExpr >= floor)
    val bands = Dedup.adaptiveSimHashBands(PHashBits, tierDocs.count())
    PhTower.save(s, d,
      bandedPhashOfSigs(perceptualHashesOf(tierDocs), bands), "m09_ph_bands")
    PhTower.save(s, d, stripe.filter(nbExpr < floor)
      .select(col("doc_id"), md5(col("text")).as("ck")), "m09_ph_cks")
    import s.implicits._
    PhTower.writeMeta(s, d,
      Seq((nd, floor, bands)).toDF("nd", "floor", "bands"))
  }

  /** Load the persisted gate index when one is fresh for this
    * corpus, else build + persist. Fresh means the tower's source
    * stamp matches the current files of `documents.parquet` — there
    * are no session dials here (geometry is count-derived), and an
    * index built over a gated sub-stripe is [[auditPhashCoverage]]'s
    * to catch. */
  private[graft] def ensurePhashIndex(s: SparkSession,
      d: String): DataFrame = {
    if (!PhTower.fresh(s, d)(_ => true)) persistPhashIndex(s, d)
    s.table("m09_ph_bands")
  }

  /** PHASH STALENESS AUDIT — bounded (counts + an E[[[PhAuditSample]]]
    * sampled recheck; never a corpus re-hash):
    *   - COVERAGE: meta `nd` vs a live stripe count;
    *   - GEOMETRY: the meta's frozen (floor, bands) vs the rule
    *     applied to the LIVE counts — a stripe that grew past a
    *     floor or band boundary serves with the wrong geometry even
    *     when every indexed row is intact;
    *   - SAMPLED RECHECK, tier-aware: a sampled tier doc must have
    *     exactly `bands` persisted band rows (absence IS a defect —
    *     every doc has a phash, unlike LSH's sub-3-token holes); a
    *     sampled sub-floor doc must be present in the checksum table
    *     with md5(text) unchanged — which catches content EDITS on
    *     the exact tier directly.
    * One row out; `rebuild_due` fires on any dial. */
  private[graft] def auditPhashCoverage(s: SparkSession, d: String,
      minCoverageOverride: Option[Double] = None,
      maxDefectOverride: Option[Double] = None): DataFrame = {
    PhTower.refresh(s)
    val m = s.table("m09_ph_meta").head()
    val ndIndex = m.getAs[Long]("nd")
    val metaFloor = m.getAs[Int]("floor")
    val metaBands = m.getAs[Int]("bands")
    val minCov = minCoverageOverride.getOrElse(PhMinCoverage)
    val maxDef = maxDefectOverride.getOrElse(PhMaxDefect)
    val stripe = phStripe(s, d)
    val ndCorpus = stripe.count()
    val liveFloor = entropyFloorBlocks(ndCorpus)
    val liveBands = Dedup.adaptiveSimHashBands(PHashBits,
      stripe.filter(nbExpr >= liveFloor).count())
    val geomOk = metaFloor == liveFloor && metaBands == liveBands
    val thresh = (PhAuditSample * 4294967296L - 1L) /
      math.max(1L, ndCorpus) + 1L
    val sample = stripe
      .filter(conv(substring(md5(concat(lit("pha:"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
        < lit(thresh))
      .select(col("doc_id"), nbExpr.as("nb"),
        md5(col("text")).as("ck_live"))
    val bandRows = s.table("m09_ph_bands")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("nrows"))
    val cks = s.table("m09_ph_cks")
      .select(col("doc_id"), col("ck"))
    sample
      .join(bandRows, Seq("doc_id"), "left")
      .join(cks, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("nb") >= metaFloor,
          coalesce(col("nrows"), lit(0L)) =!= metaBands)
          .otherwise(col("ck").isNull || col("ck") =!= col("ck_live"))
          .cast("int").as("defect"))
      .agg(count(lit(1)).as("n_sample"),
        coalesce(sum(col("defect")), lit(0)).cast("long").as("defects"))
      .select(lit(ndIndex).as("nd_index"),
        lit(ndCorpus).as("nd_corpus"),
        col("n_sample"), col("defects"),
        (lit(ndIndex).cast("double") / lit(ndCorpus).cast("double"))
          .as("coverage"),
        coalesce(col("defects").cast("double")
          / nullif(col("n_sample").cast("double"), lit(0.0)), lit(0.0))
          .as("defect_frac"),
        lit(geomOk).as("geom_ok"),
        ((lit(ndIndex).cast("double") / lit(ndCorpus).cast("double"))
            < lit(minCov)
          || coalesce(col("defects").cast("double")
            / nullif(col("n_sample").cast("double"), lit(0.0)),
            lit(0.0)) > lit(maxDef)
          || lit(!geomOk)).as("rebuild_due"))
  }

  /** NIGHTLY PHASH MAINTENANCE — audit → rebuild-when-due with a
    * generation bump picked up by the next [[ensurePhashIndex]]
    * probe. Returns whether a rebuild ran. */
  private[graft] def maintainPhashIndex(s: SparkSession, d: String,
      minCoverageOverride: Option[Double] = None,
      maxDefectOverride: Option[Double] = None): Boolean = {
    val due = auditPhashCoverage(s, d, minCoverageOverride,
      maxDefectOverride).head().getAs[Boolean]("rebuild_due")
    if (due) persistPhashIndex(s, d)
    due
  }

  /** The video-stripe count — feeds the adaptive band geometry (the
    * [[Dedup.docCount]] discipline). */
  private def videoCount(s: SparkSession, d: String): Long =
    CorpusStats.count(s, s"$d/documents.parquet", col("doc_id") % 3 === 2)

  /** m09's ENTROPY FLOOR: the smallest block count f whose signature
    * space holds the corpus PAIR population at occupancy ≤ 1/4 —
    * 2^f ≥ 4·n² — capped at grid fill ([[PHashBits]]). A doc below
    * the floor carries at most nb parity bits of content entropy
    * (one md5 bit per block; empty grid positions carry none), so
    * between sub-floor docs hamming proximity is EXPECTED by chance
    * once ~n²/2 pairs sample a 2^nb space — the measured ×100
    * mechanism (PLANS.md r19 item 7: grid-FILLING docs produced zero
    * luck pairs; widening the grid changed no sub-grid signature and
    * only loosened the threshold). Same occupancy discipline as
    * [[Dedup.adaptiveSimHashBands]], one level up: bands size the
    * BUCKET space to the corpus, the floor sizes the SIGNATURE space
    * to the pair population. Integer-exact so the DuckDB twin
    * derives the same floor from COUNT(*). */
  private[graft] def entropyFloorBlocks(n: Long): Int = {
    require(n < 1000000000L, s"entropy floor: corpus count $n overflows 4n^2")
    (1 to 62).find(f => (1L << f) >= 4L * n * n)
      .map(math.min(_, PHashBits)).getOrElse(PHashBits)
  }

  /** The perceptual-tier count: docs at or above the entropy floor —
    * feeds the tier's OWN band geometry (bucket occupancy is a
    * property of what enters the banded join, not of the whole
    * stripe). */
  private def perceptualTierCount(s: SparkSession, d: String,
      floor: Int): Long =
    CorpusStats.count(s, s"$d/documents.parquet", col("doc_id") % 3 === 2
      && greatest(lit(1),
        expr("cast((length(text) + 15) div 16 as int)")) >= floor)

  /** The adaptive band geometry as a SQL CTE —
    * [[Dedup.adaptiveSimHashBands]] at [[PHashBits]] bits, thresholds
    * as integer literals, n = COUNT(*) over `pred` (the reference
    * population the engine sizes its bands from). The WHEN-ladder
    * literals are GENERATED from the Scala rule, not hand-copied (the
    * r17 ADVICE low: restated literals would silently split engine
    * and oracle if the rule ever moved): each candidate band count b
    * maps to the largest n the rule still assigns it, and that
    * boundary is verified against [[Dedup.adaptiveSimHashBands]]
    * itself at construction — a rule change that invalidates a
    * boundary fails fast here instead of hash-mismatching only when a
    * corpus straddles it. */
  private[graft] def phashGeomWhens: Seq[String] =
    (4 to 2 by -1).filter(PHashBits % _ == 0).map { b =>
      val e = PHashBits / b
      if (e >= 62) s"WHEN TRUE THEN $b"
      else {
        val bound = (1L << e) / 4L // occupancy ≤ 1/4: 2^e ≥ 4n
        require(Dedup.adaptiveSimHashBands(PHashBits, bound) == b
            && Dedup.adaptiveSimHashBands(PHashBits, bound + 1) != b,
          s"phash band boundary $bound out of sync with " +
            s"adaptiveSimHashBands at $PHashBits bits, band $b")
        s"WHEN n <= $bound THEN $b"
      }
    }

  private def phashGeomCte(pred: String): String =
    s"""geom AS (SELECT CASE
          ${phashGeomWhens.mkString("\n          ")}
          ELSE 1 END AS bands
        FROM (SELECT COUNT(*) AS n FROM documents WHERE $pred))"""

  /** The per-doc signature chain as composable CTEs ending at `name`
    * (doc_id, phash) over `pred`-selected documents — shared by the
    * m08 and st22 twins so the fingerprint definition cannot drift
    * between the batch dedup and the streaming gate. Whole-payload
    * fold: block j → position j mod 60, parity per position (the
    * engine chain CTE-for-CTE). */
  private def phashSigCtes(name: String, pred: String): String =
    s"""${name}b AS (SELECT doc_id, nb, CAST(j % ${PHashBits} AS INT) AS pos,
          CASE WHEN ('0x' || substr(
              md5(substr(text, j * 16 + 1, 16)), 1, 1))::INT >= 8
            THEN 1 ELSE 0 END AS bit
        FROM (SELECT doc_id, text,
            GREATEST(1, CAST((length(text) + 15) // 16 AS INT)) AS nb
          FROM documents WHERE $pred),
          UNNEST(generate_series(0, nb - 1)) AS t(j)),
      ${name}p AS (SELECT doc_id, nb, pos, SUM(bit) % 2 AS par
        FROM ${name}b GROUP BY doc_id, nb, pos),
      $name AS (SELECT doc_id, nb,
          CAST(SUM(par * CAST(pow(2, pos) AS BIGINT)) AS BIGINT)
            AS phash
        FROM ${name}p GROUP BY doc_id, nb)"""

  /** m08's twin: same signature, all-pairs hamming check (banding is
    * lossless, so the engine's banded join must emit exactly these
    * pairs); bands derived from the SAME adaptive thresholds
    * ([[Dedup.adaptiveSimHashBands]] at 60 bits) off COUNT(*). */
  private def perceptualOracleSql: String =
    s"""WITH ${phashGeomCte("doc_id % 3 = 2")},
      ${phashSigCtes("sig", "doc_id % 3 = 2")}
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        a.phash AS phash_a, b.phash AS phash_b,
        CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.phash, b.phash))
        <= (SELECT bands FROM geom) - 1
      ORDER BY id_a, id_b"""

  /** m09's twin: floor from COUNT(*) by the same 2^f ≥ 4n² rule,
    * perceptual tier all-pairs at hamming ≤ bands−1 with bands from
    * the TIER count (the engine's banded join is lossless, so it
    * must emit exactly these pairs), exact tier by md5 equality
    * below the floor. CTEs materialized — m9sig/m9tier/m9sub are
    * multiply referenced and DuckDB 1.0 inlines plain CTEs per
    * reference site. */
  private[graft] def perceptualTwoTierOracleSql: String =
    Similarity.matCtes(
      s"""WITH m9f AS (SELECT LEAST($PHashBits, MIN(f)) AS fl
          FROM generate_series(1, 62) t(f),
            (SELECT COUNT(*) AS n FROM documents WHERE doc_id % 3 = 2)
          WHERE (CAST(1 AS BIGINT) << f) >= 4 * n * n),
        ${phashSigCtes("m9sig", "doc_id % 3 = 2")},
        m9tier AS (SELECT doc_id, phash FROM m9sig
          WHERE nb >= (SELECT fl FROM m9f)),
        m9geom AS (SELECT CASE
            ${phashGeomWhens.mkString("\n            ")}
            ELSE 1 END AS bands
          FROM (SELECT COUNT(*) AS n FROM m9tier)),
        m9sub AS (SELECT s.doc_id, md5(d.text) AS ck
          FROM m9sig s JOIN documents d USING (doc_id)
          WHERE s.nb < (SELECT fl FROM m9f))
        SELECT id_a, id_b, tier, hamming FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            'perceptual' AS tier,
            CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
          FROM m9tier a JOIN m9tier b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.phash, b.phash))
            <= (SELECT bands FROM m9geom) - 1
          UNION ALL
          SELECT a.doc_id, b.doc_id, 'exact',
            CAST(0 AS BIGINT)
          FROM m9sub a JOIN m9sub b
            ON a.ck = b.ck AND a.doc_id < b.doc_id)
        ORDER BY tier, id_a, id_b""")

  /** st24's twin: floor from the CORPUS stripe's count (the index
    * side sizes the geometry, as in every maintained tower), bands
    * from the corpus TIER count; each delta doc gates in exactly one
    * tier — hamming against the floored corpus signatures, or md5
    * equality against the sub-floor corpus — LEFT-joined back so
    * zero-dup docs emit the admission bit. Per-doc answers depend
    * only on the doc's own text + the static corpus, so one SQL
    * gates any micro-batch slicing (the st22 discipline). */
  private[graft] def twoTierGateOracleSql: String =
    Similarity.matCtes(
      s"""WITH sg4f AS (SELECT LEAST($PHashBits, MIN(f)) AS fl
          FROM generate_series(1, 62) t(f),
            (SELECT COUNT(*) AS n FROM documents
             WHERE doc_id % 3 = 2 AND doc_id % 5 <> 0)
          WHERE (CAST(1 AS BIGINT) << f) >= 4 * n * n),
        ${phashSigCtes("sg4c", "doc_id % 3 = 2 AND doc_id % 5 <> 0")},
        ${phashSigCtes("sg4d", "doc_id % 3 = 2 AND doc_id % 5 = 0")},
        sg4g AS (SELECT CASE
            ${phashGeomWhens.mkString("\n            ")}
            ELSE 1 END AS bands
          FROM (SELECT COUNT(*) AS n FROM sg4c
                WHERE nb >= (SELECT fl FROM sg4f))),
        sg4th AS (SELECT d.doc_id, COUNT(*) AS n_dups
          FROM sg4d d JOIN sg4c c
            ON bit_count(xor(d.phash, c.phash))
               <= (SELECT bands FROM sg4g) - 1
          WHERE d.nb >= (SELECT fl FROM sg4f)
            AND c.nb >= (SELECT fl FROM sg4f)
          GROUP BY d.doc_id),
        sg4eh AS (SELECT d.doc_id, COUNT(*) AS n_dups
          FROM (SELECT s.doc_id, md5(t.text) AS ck
                FROM sg4d s JOIN documents t USING (doc_id)
                WHERE s.nb < (SELECT fl FROM sg4f)) d
            JOIN (SELECT md5(t.text) AS ck
                FROM sg4c s JOIN documents t USING (doc_id)
                WHERE s.nb < (SELECT fl FROM sg4f)) c
              ON d.ck = c.ck
          GROUP BY d.doc_id),
        sg4h AS (SELECT * FROM sg4th UNION ALL SELECT * FROM sg4eh)
        SELECT d.doc_id,
          CASE WHEN d.nb >= (SELECT fl FROM sg4f)
               THEN 'perceptual' ELSE 'exact' END AS tier,
          CAST(COALESCE(h.n_dups, 0) AS BIGINT) AS n_dups,
          COALESCE(h.n_dups, 0) = 0 AS is_new
        FROM sg4d d LEFT JOIN sg4h h USING (doc_id)
        ORDER BY doc_id""")

  /** st22's twin: the delta stripe's signatures against the corpus
    * stripe's, all-pairs hamming check, LEFT-joined back so zero-dup
    * docs emit (the admission bit). Per-doc answers depend only on
    * the doc's own text + the static corpus, so one SQL gates any
    * micro-batch slicing. */
  private[graft] def perceptualGateOracleSql: String =
    s"""WITH ${phashGeomCte("doc_id % 3 = 2 AND doc_id % 5 <> 0")},
      ${phashSigCtes("sigc", "doc_id % 3 = 2 AND doc_id % 5 <> 0")},
      ${phashSigCtes("sigd", "doc_id % 3 = 2 AND doc_id % 5 = 0")},
      hits AS (SELECT d.doc_id, COUNT(*) AS n_dups
        FROM sigd d JOIN sigc c
          ON bit_count(xor(d.phash, c.phash))
             <= (SELECT bands FROM geom) - 1
        GROUP BY d.doc_id)
      SELECT d.doc_id, d.phash,
        CAST(COALESCE(h.n_dups, 0) AS BIGINT) AS n_dups,
        COALESCE(h.n_dups, 0) = 0 AS is_new
      FROM sigd d LEFT JOIN hits h USING (doc_id)
      ORDER BY doc_id"""
}
