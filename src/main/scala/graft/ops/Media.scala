package graft.ops

import graft.QueryDef
import graft.functions.Multimodal
import org.apache.spark.sql.functions._

/** Multimodal surface as declared queries (SURVEY.md §2.9) — ORACLE-
  * CHECKED since r8: the binary payloads themselves can't cross into
  * DuckDB, but every DERIVED column the queries emit (dims, byte
  * counts, rolling checksums, feature dots) is integer/float
  * arithmetic over the deterministic synthetic payload layout, and
  * DuckDB replays it from a generated series — Java-long wrap-around
  * via HUGEINT mod-2⁶⁴ folds (probed bit-identical incl. the signed
  * mapping), float32 feature division via REAL (probed bit-identical
  * to JVM float semantics). The ENGINE side still runs the real
  * binary path (mapPartitions decode over payload bytes), so the
  * oracle genuinely checks the multimodal pipeline's output, not a
  * shortcut. MultimodalSpec continues to pin resize/frame semantics. */
object Media {

  /** Batched decode over 200 deterministic media payloads. */
  private val mediaDecode = QueryDef(
    (s, _) => {
      import s.implicits._
      Multimodal.decode(Multimodal.syntheticMedia(s, 200)).toDF()
        .orderBy($"media_id")
    },
    """WITH m AS (SELECT range AS media_id FROM range(200)),
      |d AS (SELECT media_id,
      |        CASE media_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |             ELSE 'video' END AS kind,
      |        16 + (media_id % 8) * 4 AS w,
      |        9 + (media_id % 5) * 3 AS h,
      |        64 + (media_id % 32) * 4 AS blen
      |      FROM m),
      |b AS (SELECT media_id, kind, w, h, blen,
      |        list_concat(
      |          [CAST(w // 256 AS HUGEINT), CAST(w % 256 AS HUGEINT),
      |           CAST(h // 256 AS HUGEINT), CAST(h % 256 AS HUGEINT)],
      |          list_transform(range(0, CAST(blen AS INT)), i ->
      |            CAST((media_id * 131 + i * 7) % 251 AS HUGEINT))) AS bs
      |      FROM d),
      |c AS (SELECT media_id, kind, w, h, blen,
      |        list_reduce(bs, (a, x) ->
      |          (a * 131 + x) % 18446744073709551616::HUGEINT) AS cu
      |      FROM b)
      |SELECT media_id, kind,
      |       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
      |       CAST(blen AS BIGINT) AS n_pixels,
      |       CAST(CASE WHEN cu >= 9223372036854775808::HUGEINT
      |                 THEN cu - 18446744073709551616::HUGEINT
      |                 ELSE cu END AS BIGINT) AS checksum
      |FROM c ORDER BY media_id""".stripMargin)

  /** Payload → embedding features, bridged into the vector inventory:
    * cosine top-3 neighbors per query media item via the same kernels
    * the embedding queries use. */
  private val mediaFeatures = QueryDef(
    (s, _) => {
      import s.implicits._
      val feats = Multimodal.features(Multimodal.syntheticMedia(s, 200))
      val q = feats.filter($"media_id" < 5)
        .select($"media_id".as("qid"), $"embedding".as("qv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"qid").orderBy($"cos".desc, $"nid")
      feats.select($"media_id".as("nid"), $"embedding".as("nv"))
        .join(broadcast(q), $"nid" =!= $"qid")
        .withColumn("cos", call_function("graft_dot", $"qv", $"nv"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= 3)
        .select($"qid", $"nid", round($"cos", 4).as("cos"), $"rk")
        .orderBy($"qid", $"rk")
    },
    """WITH m AS (SELECT range AS media_id FROM range(200)),
      |d AS (SELECT media_id,
      |        16 + (media_id % 8) * 4 AS w,
      |        9 + (media_id % 5) * 3 AS h,
      |        64 + (media_id % 32) * 4 AS blen
      |      FROM m),
      |dims AS (
      |  SELECT media_id, dd.d,
      |    list_reduce(
      |      list_transform(
      |        range(CAST(dd.d AS BIGINT), CAST(blen + 4 AS BIGINT), 8),
      |        pos -> CAST(CASE WHEN pos = 0 THEN w // 256
      |                         WHEN pos = 1 THEN w % 256
      |                         WHEN pos = 2 THEN h // 256
      |                         WHEN pos = 3 THEN h % 256
      |                         ELSE (media_id * 131 + (pos - 4) * 7) % 251
      |                    END AS HUGEINT)),
      |      (a, x) -> (a * 31 + x) % 18446744073709551616::HUGEINT) AS cu
      |  FROM d CROSS JOIN (SELECT UNNEST(range(8)) AS d) dd),
      |fv AS (
      |  SELECT media_id,
      |         list(CAST(CAST(sv % 1000003 AS REAL) / CAST(1000003 AS REAL)
      |                   AS REAL) ORDER BY d) AS emb
      |  FROM (SELECT media_id, d,
      |          CASE WHEN cu >= 9223372036854775808::HUGEINT
      |               THEN cu - 18446744073709551616::HUGEINT
      |               ELSE cu END AS sv
      |        FROM dims)
      |  GROUP BY 1),
      |pr AS (
      |  SELECT q.media_id AS qid, n.media_id AS nid,
      |         list_sum(list_transform(list_zip(q.emb, n.emb),
      |           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS cos
      |  FROM fv q JOIN fv n ON q.media_id < 5 AND n.media_id <> q.media_id),
      |rk AS (SELECT qid, nid, cos,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
      |           ORDER BY cos DESC, nid) AS BIGINT) AS rk
      |       FROM pr)
      |SELECT qid, nid, ROUND(cos, 4) AS cos, rk
      |FROM rk WHERE rk <= 3 ORDER BY qid, rk""".stripMargin)

  /** Resize (factor 2) then decode — the chained-narrow-transform shape:
    * payload bytes never shuffle, the header is rewritten in place, and
    * the decode of the RESIZED payload is what the oracle replays
    * (dims halved, body subsampled every 2nd byte, fresh checksum). */
  private val mediaResize = QueryDef(
    (s, _) => {
      import s.implicits._
      Multimodal.decode(
        Multimodal.resize(Multimodal.syntheticMedia(s, 200), factor = 2)).toDF()
        .orderBy($"media_id")
    },
    """WITH m AS (SELECT range AS media_id FROM range(200)),
      |d AS (SELECT media_id,
      |        CASE media_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |             ELSE 'video' END AS kind,
      |        16 + (media_id % 8) * 4 AS w,
      |        9 + (media_id % 5) * 3 AS h,
      |        64 + (media_id % 32) * 4 AS blen
      |      FROM m),
      |r AS (SELECT media_id, kind,
      |        greatest(w // 2, 1) AS nw, greatest(h // 2, 1) AS nh,
      |        (blen + 1) // 2 AS nblen, blen
      |      FROM d),
      |b AS (SELECT media_id, kind, nw, nh, nblen,
      |        list_concat(
      |          [CAST(nw // 256 AS HUGEINT), CAST(nw % 256 AS HUGEINT),
      |           CAST(nh // 256 AS HUGEINT), CAST(nh % 256 AS HUGEINT)],
      |          list_transform(range(0, CAST(blen AS BIGINT), 2), i ->
      |            CAST((media_id * 131 + i * 7) % 251 AS HUGEINT))) AS bs
      |      FROM r),
      |c AS (SELECT media_id, kind, nw, nh, nblen,
      |        list_reduce(bs, (a, x) ->
      |          (a * 131 + x) % 18446744073709551616::HUGEINT) AS cu
      |      FROM b)
      |SELECT media_id, kind,
      |       CAST(nw AS INTEGER) AS width, CAST(nh AS INTEGER) AS height,
      |       CAST(nblen AS BIGINT) AS n_pixels,
      |       CAST(CASE WHEN cu >= 9223372036854775808::HUGEINT
      |                 THEN cu - 18446744073709551616::HUGEINT
      |                 ELSE cu END AS BIGINT) AS checksum
      |FROM c ORDER BY media_id""".stripMargin)

  /** Frame sampling (video payloads only): every 2nd 32-byte frame with
    * its offset and per-frame checksum — the one-to-many narrow explode
    * whose SMALL Frame rows are all that flows downstream. */
  private val mediaFrames = QueryDef(
    (s, _) => {
      import s.implicits._
      Multimodal.sampleFrames(Multimodal.syntheticMedia(s, 200),
        frameBytes = 32, everyK = 2).toDF()
        .orderBy($"media_id", $"frame_no")
    },
    """WITH m AS (SELECT range AS media_id FROM range(200)
      |           WHERE range % 3 = 2),
      |d AS (SELECT media_id, 64 + (media_id % 32) * 4 AS blen FROM m),
      |f AS (SELECT media_id, blen,
      |        UNNEST(range(0, CAST((blen + 31) // 32 AS BIGINT))) AS fno
      |      FROM d),
      |b AS (SELECT media_id, fno,
      |        list_transform(
      |          range(fno * 32, least((fno + 1) * 32, blen)), i ->
      |            CAST((media_id * 131 + i * 7) % 251 AS HUGEINT)) AS bs
      |      FROM f WHERE fno % 2 = 0),
      |c AS (SELECT media_id, fno,
      |        list_reduce(bs, (a, x) ->
      |          (a * 131 + x) % 18446744073709551616::HUGEINT) AS cu
      |      FROM b)
      |SELECT media_id, CAST(fno AS INTEGER) AS frame_no,
      |       CAST(4 + fno * 32 AS INTEGER) AS offset,
      |       CAST(CASE WHEN cu >= 9223372036854775808::HUGEINT
      |                 THEN cu - 18446744073709551616::HUGEINT
      |                 ELSE cu END AS BIGINT) AS checksum
      |FROM c ORDER BY media_id, frame_no""".stripMargin)

  /** Perceptual-hash near-dup for media — image dedup without decoding
    * twice: 64-bit block-mean pHash per payload (computed executor-side
    * from the real bytes, [[graft.functions.Multimodal.Codec.phash]]),
    * banded into four 16-bit values, candidates = pairs sharing ≥1
    * exact band (the Hamming-LSH equi-join — pigeonhole-complete for
    * distance < 4), verified at Hamming ≤ 4 summed across bands via
    * bit_count(xor). The media twin of q_dedup_simhash: same
    * band→bucket→verify shape, so the 100 TB design carries over —
    * payloads never shuffle (only 4 band rows per item), the candidate
    * join is equi-keyed, and the verify runs on candidates only, never
    * all pairs. Oracle replays the payload layout + pHash arithmetic
    * in DuckDB integer ops (the q_media_decode HUGEINT discipline —
    * here everything fits BIGINT: sums < 2⁶³, bands < 2¹⁶). */
  private val mediaPhashDup = QueryDef(
    (s, _) => {
      import s.implicits._
      val bands = Multimodal.phashBands(Multimodal.syntheticMedia(s, 200))
      val cand = bands.as("a").join(bands.as("b"),
          $"a.band" === $"b.band" && $"a.bv" === $"b.bv" &&
            $"a.media_id" < $"b.media_id")
        .select($"a.media_id".as("m1"), $"b.media_id".as("m2"))
        .distinct()
      cand.join(bands.as("x"), $"m1" === $"x.media_id")
        .join(bands.as("y"),
          $"m2" === $"y.media_id" && $"x.band" === $"y.band")
        .groupBy($"m1", $"m2")
        .agg(sum(expr("bit_count(x.bv ^ y.bv)")).cast("long").as("hamming"))
        .filter($"hamming" <= 4)
        .orderBy($"m1", $"m2")
    },
    """WITH m AS (SELECT range AS media_id FROM range(200)),
      |d AS (SELECT media_id,
      |        16 + (media_id % 8) * 4 AS w, 9 + (media_id % 5) * 3 AS h,
      |        64 + (media_id % 32) * 4 AS blen FROM m),
      |b AS (SELECT media_id,
      |        list_concat(
      |          [CAST(w // 256 AS BIGINT), CAST(w % 256 AS BIGINT),
      |           CAST(h // 256 AS BIGINT), CAST(h % 256 AS BIGINT)],
      |          list_transform(range(0, CAST(blen AS BIGINT)), i ->
      |            CAST((media_id * 131 + i * 7) % 251 AS BIGINT))) AS bs
      |      FROM d),
      |bk AS (SELECT media_id, k,
      |         list_sum(list_transform(
      |           range(CAST(k AS BIGINT), CAST(len(bs) AS BIGINT), 64),
      |           i -> bs[CAST(i AS INT) + 1])) AS s,
      |         list_sum(bs) AS tot
      |       FROM b CROSS JOIN (SELECT UNNEST(range(64)) AS k)),
      |bands AS (SELECT media_id, k // 16 AS band,
      |            CAST(SUM(CASE WHEN s * 64 > tot THEN 1 ELSE 0 END
      |                     * (1::BIGINT << CAST(k % 16 AS INT))) AS BIGINT)
      |              AS bv
      |          FROM bk GROUP BY 1, 2),
      |cand AS (SELECT DISTINCT a.media_id AS m1, b2.media_id AS m2
      |         FROM bands a JOIN bands b2
      |           ON a.band = b2.band AND a.bv = b2.bv
      |          AND a.media_id < b2.media_id),
      |h AS (SELECT m1, m2,
      |        CAST(SUM(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
      |      FROM cand JOIN bands x ON x.media_id = m1
      |                JOIN bands y ON y.media_id = m2 AND y.band = x.band
      |      GROUP BY 1, 2)
      |SELECT m1, m2, hamming FROM h WHERE hamming <= 4
      |ORDER BY m1, m2""".stripMargin)

  val defs: Seq[(String, QueryDef)] = Seq(
    "q_media_decode" -> mediaDecode,
    "q_media_phash_dup" -> mediaPhashDup,
    "q_media_resize" -> mediaResize,
    "q_media_frames" -> mediaFrames,
    "q_media_features" -> mediaFeatures)
}
