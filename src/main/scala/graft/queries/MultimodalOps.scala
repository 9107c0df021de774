package graft.queries

import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal

/** Oracle-checked slice of the multimodal surface: binary-column
  * metadata derivation and frame-offset expansion (the decode stub
  * itself is covered by MultimodalSpec — DuckDB has no codec either).
  */
object MultimodalOps {

  val defs: Seq[QueryDef] = Seq(

    // binary payload metadata: length + content hash over BinaryType —
    // pure expressions, scan prunes to the needed columns.
    QueryDef("q45_media_metadata",
      (s, dir) => Multimodal.byteMetadata(Multimodal.mediaFromDocuments(s, dir))
        .select(col("media_id"), col("n_bytes"), col("content_md5"),
          col("mime"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))
        .orderBy(col("media_id")),
      Some("""SELECT doc_id AS media_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5,
        |  'image/fake-' || lang AS mime,
        |  doc_id % 64 + 16 AS width,
        |  doc_id % 48 + 16 AS height
        |FROM documents ORDER BY media_id""".stripMargin)),

    // frame sampling: one row per (asset, capped 1-fps frame offset).
    QueryDef("q46_frame_offsets",
      (s, dir) => Multimodal.frameOffsets(Multimodal.mediaFromDocuments(s, dir))
        .orderBy(col("media_id"), col("frame_idx")),
      Some("""SELECT doc_id AS media_id, frame_idx,
        |  frame_idx * 1000 AS frame_ts_ms
        |FROM documents,
        |  (SELECT unnest(range(0, 1000)) AS frame_idx)
        |WHERE frame_idx <= least((n_chars * 100) // 1000, 4)
        |ORDER BY media_id, frame_idx""".stripMargin)),

    // ------------------------------------------------------------------
    // Content-addressable dedup accounting: the storage decision a
    // multimodal corpus runs before anything else — group payloads by
    // content hash (bytes never shuffle, only the 128-bit digest +
    // size), then per mime type report how many assets, how many
    // distinct payloads, and how many bytes dedup would reclaim.
    // Two hash-aggs; the first keys on (mime, digest) so identical
    // payloads collapse map-side before anything wide moves.
    QueryDef("q85_media_dedup",
      (s, dir) => {
        val perHash = Multimodal.byteMetadata(
            Multimodal.mediaFromDocuments(s, dir))
          .groupBy(col("mime"), col("content_md5"))
          .agg(count(lit(1)).as("n"), min(col("n_bytes")).as("b"))
        perHash.groupBy(col("mime"))
          .agg(sum(col("n")).as("n_assets"),
            count(lit(1)).as("n_distinct"),
            sum(col("n") * col("b")).as("total_bytes"),
            sum((col("n") - 1) * col("b")).as("reclaimable_bytes"))
          .orderBy(col("mime"))
      },
      Some("""WITH perhash AS (
        |  SELECT 'image/fake-' || lang AS mime, md5(text) AS h,
        |    count(*) AS n,
        |    CAST(octet_length(CAST(min(text) AS BLOB)) AS BIGINT) AS b
        |  FROM documents GROUP BY 1, 2)
        |SELECT mime, CAST(sum(n) AS BIGINT) AS n_assets, count(*) AS n_distinct,
        |  CAST(sum(n * b) AS BIGINT) AS total_bytes,
        |  CAST(sum((n - 1) * b) AS BIGINT) AS reclaimable_bytes
        |FROM perhash GROUP BY mime
        |ORDER BY mime""".stripMargin)),

    // ------------------------------------------------------------------
    // Frame-level temporal analysis — the video-summarization shape:
    // sample frames (sequence+explode, q46's op), "decode" each
    // frame's slice to a luma mean (the stub: mean char code of the
    // 100-char window — a real codec slots into the same per-frame
    // projection), detect scene changes as |Δ intensity| > 2.0 via a
    // per-asset window lag, and aggregate per asset. Sums stay
    // INTEGER until one final division, so the doubles are exact and
    // order-independent; the per-frame HOF aggregate runs over ≤100
    // chars so the interpreted lambda is bounded per row. One shuffle
    // total: frames hash-join the text (both keyed by id), the window
    // and final agg share the media_id clustering.
    QueryDef("q105_frame_scenes",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val frames = Multimodal.frameOffsets(
          Multimodal.mediaFromDocuments(s, dir))
        val docs = Q.t(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val f = frames.join(docs, col("media_id") === col("doc_id"))
          .select(col("media_id"), col("frame_idx"),
            expr("substring(text, CAST(frame_idx*100+1 AS INT), 100)").as("sub"))
          .select(col("media_id"), col("frame_idx"),
            expr("aggregate(split(sub, ''), 0L, (a, c) -> a + ascii(c))").as("sm"),
            length(col("sub")).cast("long").as("n"))
          .withColumn("intensity", when(col("n") === 0, lit(0.0))
            .otherwise(col("sm").cast("double") / col("n")))
        val w = Window.partitionBy(col("media_id")).orderBy(col("frame_idx"))
        f.withColumn("delta",
            abs(col("intensity") - lag(col("intensity"), 1).over(w)))
          .groupBy(col("media_id"))
          .agg(count(lit(1)).as("n_frames"),
            when(sum(col("n")) === 0, lit(0.0))
              .otherwise(sum(col("sm")).cast("double") / sum(col("n")))
              .as("mean_intensity"),
            sum(when(col("delta") > 2.0, 1L).otherwise(0L))
              .as("n_scene_changes"))
          .orderBy(col("media_id"))
      },
      Some("""WITH frames AS (
        |  SELECT doc_id AS media_id, frame_idx,
        |    substring(text, CAST(frame_idx*100+1 AS INT), 100) AS sub
        |  FROM documents, (SELECT unnest(range(0, 1000)) AS frame_idx)
        |  WHERE frame_idx <= least((n_chars * 100) // 1000, 4)),
        |f AS (
        |  SELECT media_id, frame_idx,
        |    CAST(list_sum(list_transform(range(len(sub)),
        |      i -> ord(substring(sub, i+1, 1)))) AS BIGINT) AS sm,
        |    CAST(len(sub) AS BIGINT) AS n
        |  FROM frames),
        |i AS (
        |  SELECT media_id, frame_idx, sm, n,
        |    CASE WHEN n = 0 THEN 0.0
        |         ELSE CAST(sm AS DOUBLE) / n END AS intensity
        |  FROM f),
        |d AS (
        |  SELECT media_id, sm, n,
        |    abs(intensity - lag(intensity) OVER (
        |      PARTITION BY media_id ORDER BY frame_idx)) AS delta
        |  FROM i)
        |SELECT media_id, count(*) AS n_frames,
        |  COALESCE(CAST(sum(sm) AS DOUBLE)
        |    / NULLIF(CAST(sum(n) AS BIGINT), 0), 0.0) AS mean_intensity,
        |  CAST(sum(CASE WHEN delta > 2.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_scene_changes
        |FROM d GROUP BY media_id ORDER BY media_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Perceptual-hash (aHash) INDEX BUILD — the content-similarity
    // fingerprint past q85's exact digests: two re-encoded copies of
    // an asset share no md5 but nearly the same aHash. Each asset
    // stub-decodes to a 63-stripe "intensity" profile (the real
    // codec slots into the same per-partition batch as decodeStub),
    // bit i = stripe mean > global mean compared as the integer
    // cross product si·n > st·ni (no division anywhere), plus the
    // 7×9-bit band keys a Hamming-band pairing joins on — exactly
    // q62's SimHash machinery, pigeonhole-complete for distance ≤ 6.
    // 63 bits, not 64: bit 63 is the sign bit and DuckDB's
    // `1::BIGINT << 63` overflows. The query emits the INDEX (hash +
    // band keys, oracle-checked bit-for-bit per asset), not pairs:
    // on this corpus the measured minimum pairwise distance is 9 —
    // the text stand-in payloads have no aHash near-dups at the
    // complete-recall threshold, so a pair query would be vacuously
    // empty (checked; and coarser histogram variants collapse the
    // other way, 686 false 0-distance pairs). Band width is THE
    // candidate-volume dial for the pairing join (the df-cap
    // analog): 9-bit bands keep bucket occupancy — and Σ bucket² —
    // flat as the corpus grows.
    QueryDef("q133_phash_index",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val media = graft.multimodal.Multimodal.mediaFromDocuments(s, dir)
          .select(col("media_id"))
        val docs = Q.t(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        // 63 substring stripes per asset, summed IN PLACE (one row
        // per stripe, ~n/63 chars each) instead of exploding every
        // char through a shuffle (~10M rows at sf0.1). Boundaries are
        // the ceil-form inverse of the per-char rule
        // stripe(i) = (i·63) div n, so the oracle's per-char
        // formulation groups identically.
        val stripes = media.join(docs, col("media_id") === col("doc_id"))
          .select(col("media_id"), col("text"), length(col("text")).as("n"),
            explode(sequence(lit(0), lit(62))).as("stripe"))
          .withColumn("lo", expr("(stripe * n + 62) div 63"))
          .withColumn("ni", expr("((stripe + 1) * n + 62) div 63") - col("lo"))
          .filter(col("ni") > 0)
          .select(col("media_id"), col("n"), col("stripe"), col("ni"),
            expr("aggregate(split(substring(text, CAST(lo + 1 AS INT), " +
              "CAST(ni AS INT)), ''), 0L, (a, c) -> a + ascii(c))").as("si"))
        // global mean vs stripe mean as an integer cross product:
        // si/ni > st/n  ⟺  si·n > st·ni
        val wM = Window.partitionBy(col("media_id"))
        val sig = stripes
          .withColumn("st", sum(col("si")).over(wM))
          .groupBy(col("media_id"))
          .agg(sum(when(col("si") * col("n") > col("st") * col("ni"),
            expr("shiftleft(1L, CAST(stripe AS INT))")).otherwise(0L))
            .as("ph"))
        val bandCols = (0 until 7).map(b =>
          expr(s"shiftright(ph, ${b * 9}) & 511").as(s"bk$b"))
        sig.select(col("media_id") +: col("ph") +: bandCols: _*)
          .orderBy(col("media_id"))
      },
      Some("""WITH ch AS (
        |  SELECT doc_id AS media_id, text, len(text) AS n,
        |    unnest(range(len(text))) AS i
        |  FROM documents),
        |ex AS (
        |  SELECT media_id, n, (i * 63) // n AS stripe,
        |    ord(substring(text, CAST(i + 1 AS INT), 1)) AS a
        |  FROM ch),
        |st AS (
        |  SELECT media_id, n, stripe, CAST(sum(a) AS BIGINT) AS si,
        |    count(*) AS ni
        |  FROM ex GROUP BY media_id, n, stripe),
        |tot AS (SELECT media_id, CAST(sum(si) AS BIGINT) AS stot
        |  FROM st GROUP BY media_id),
        |sig AS (
        |  SELECT st.media_id,
        |    CAST(sum(CASE WHEN si * n > stot * ni
        |      THEN (CAST(1 AS BIGINT) << CAST(stripe AS INT))
        |      ELSE 0 END) AS BIGINT) AS ph
        |  FROM st JOIN tot USING (media_id) GROUP BY st.media_id)
        |SELECT media_id, ph,
        |  (ph >> 0) & 511 AS bk0, (ph >> 9) & 511 AS bk1,
        |  (ph >> 18) & 511 AS bk2, (ph >> 27) & 511 AS bk3,
        |  (ph >> 36) & 511 AS bk4, (ph >> 45) & 511 AS bk5,
        |  (ph >> 54) & 511 AS bk6
        |FROM sig
        |ORDER BY media_id""".stripMargin))
  )
}
