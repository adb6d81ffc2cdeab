package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** One media asset: opaque payload + typed metadata. At 100 TB the
  * payload column stays opaque (binary) until the last possible moment;
  * metadata is columnar so filters/pruning never touch payload bytes. */
case class MediaRow(id: Long, kind: String, bytes: Array[Byte], nBytes: Long)

/** Extracted features for one asset (decode output). */
case class MediaFeatures(id: Long, kind: String, nBytes: Long, histogram: Array[Long], checksum: Long)

/** Resize-stub output for one image asset. */
case class ResizedMeta(id: Long, origBytes: Long, resizedBytes: Long, resizedChecksum: Long)

/** SURVEY §2.G — multimodal column plumbing.
  *
  * Image/audio/video payloads are `binary` columns with typed metadata.
  * The decode step is a deterministic STUB (no codec libraries ship in
  * this environment): `decodeStub` computes a byte histogram in place of
  * pixel/sample decoding. Everything around it — schema, typed Dataset
  * encoders, per-partition batching, partition sizing — is the real
  * production shape: swap `decodeOne` for an actual codec call and the
  * pipeline is unchanged.
  */
object Media {

  /** Build a media table from `documents` (payload = utf-8 bytes). */
  def fromDocuments(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select(col("doc_id").as("id"),
        // deterministic pseudo-modality from the id
        element_at(typedLit(Seq("image", "audio", "video")), (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        encode(col("text"), "utf-8").as("bytes"),
        octet_length(encode(col("text"), "utf-8")).cast("bigint").as("nBytes"))
      .as[MediaRow]
  }

  /** STUB for the real decoder: a codec would produce pixels/samples
    * here; we produce a 16-bin byte histogram + additive checksum so the
    * pipeline stays deterministic and testable. */
  private def decodeOne(m: MediaRow): MediaFeatures = {
    val hist = new Array[Long](16)
    var sum = 0L
    m.bytes.foreach { b =>
      hist((b & 0xff) / 16) += 1
      sum += (b & 0xff)
    }
    MediaFeatures(m.id, m.kind, m.nBytes, hist, sum)
  }

  /** Per-partition decode: the batch shape a Python `mapInPandas` /
    * vectorized UDF would see. Narrow (no shuffle); partition sizing
    * controls decoder memory. */
  def decodeStub(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(decodeOne))
  }

  /** Resize stub for image-kind rows: keep every `factor`-th byte (a
    * real resizer would box-filter pixels; the stub's subsample keeps
    * the same data-flow shape — payload in, smaller payload + derived
    * metadata out). Narrow per-partition map, like [[decodeStub]]. */
  def resizeStub(media: Dataset[MediaRow], factor: Int): Dataset[ResizedMeta] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "image").mapPartitions(_.map { m =>
      var i = 0
      var n = 0L
      var sum = 0L
      while (i < m.bytes.length) {
        n += 1
        sum += (m.bytes(i) & 0xff)
        i += factor
      }
      ResizedMeta(m.id, m.nBytes, n, sum)
    })
  }

  /** Frame sampling stub for video-kind rows: every `stride`-th 16-byte
    * block stands in for a decoded frame. */
  def sampleFrames(media: Dataset[MediaRow], stride: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video")
      .flatMap { m =>
        m.bytes.grouped(16).zipWithIndex
          .filter(_._2 % stride == 0)
          .map { case (frame, idx) => (m.id, idx.toLong, frame.length) }
      }
      .toDF("id", "frame_idx", "frame_bytes")
  }

  /** Frame sampling as an oracle-gated query: every 4th 16-byte block of
    * each video-kind payload. Drives the REAL plumbing ([[fromDocuments]]
    * -> [[sampleFrames]]'s per-partition flatMap), not a parallel SQL
    * spelling — the oracle recomputes the block geometry arithmetically,
    * which is possible because the stub "frame" is a byte slice. Narrow
    * end to end (no shuffle until the output sort). */
  def mmFrameSample(s: SparkSession, dir: String): DataFrame =
    sampleFrames(fromDocuments(s, dir), stride = 4)
      .select(col("id"), col("frame_idx"),
        col("frame_bytes").cast("bigint").as("frame_bytes"))
      .orderBy("id", "frame_idx")

  /** Frame-delta threshold for [[mmSceneCuts]] (byte-sum units). */
  val SceneCutDelta = 64L

  /** Scene-cut detection over video-kind assets — the standard
    * shot-boundary pass (consecutive-frame difference over a threshold;
    * a real decoder would difference pixel histograms, the stub
    * differences the same 16-byte frame blocks [[sampleFrames]] cuts):
    * per asset the frame count, the number of |Δ| > [[SceneCutDelta]]
    * boundaries and the largest jump — exact integers end to end. The
    * per-frame sums come from the typed per-partition flatMap (narrow);
    * the lag window is partitioned per asset (width = that asset's
    * frame count, never the corpus). */
  def mmSceneCuts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val frames = fromDocuments(s, dir)
      .filter(_.kind == "video")
      .flatMap { m =>
        m.bytes.grouped(16).zipWithIndex.map { case (fr, idx) =>
          (m.id, idx.toLong, fr.map(b => (b & 0xff).toLong).sum)
        }
      }
      .toDF("id", "frame_idx", "fsum")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("frame_idx")
    frames.withColumn("prev", lag(col("fsum"), 1).over(w))
      .groupBy("id")
      .agg(count(lit(1)).as("n_frames"),
        sum(when(abs(col("fsum") - col("prev")) > SceneCutDelta, 1L)
          .otherwise(0L)).as("n_cuts"),
        max(abs(col("fsum") - col("prev"))).as("max_delta"))
      .orderBy("id")
  }

  /** Decode + aggregate as an oracle-gated query: per modality, the
    * asset count, total payload bytes, total decode checksum and one
    * histogram bin, computed through [[decodeStub]]'s typed
    * per-partition decode. The decode is narrow; only the 3-row
    * per-kind partial aggregate shuffles — the exact shape a real
    * feature-extraction pass has at 100 TB. The oracle recomputes the
    * stub's byte math from the (all-ASCII) text column. */
  def mmDecodeStats(s: SparkSession, dir: String): DataFrame =
    decodeStub(fromDocuments(s, dir))
      .groupBy("kind")
      .agg(
        count(lit(1)).as("n_assets"),
        sum(col("nBytes")).as("total_bytes"),
        sum(col("checksum")).as("total_checksum"),
        sum(element_at(col("histogram"), 8)).as("hist_bin7"))
      .orderBy("kind")

  /** Resize as an oracle-gated query: factor-2 byte subsample of each
    * image-kind payload through [[resizeStub]]'s typed per-partition
    * map; the oracle recomputes the sampled positions' byte sum from
    * the all-ASCII text column. */
  def mmResize(s: SparkSession, dir: String): DataFrame =
    resizeStub(fromDocuments(s, dir), factor = 2)
      .select(col("id"), col("origBytes").as("orig_bytes"),
        col("resizedBytes").as("resized_bytes"),
        col("resizedChecksum").as("resized_checksum"))
      .orderBy("id")

  /** Exact media dedup by payload content hash — the multimodal face of
    * the §2.D exact-dedup family (crawled image/video corpora are
    * heavily content-duplicated): per modality, asset counts, distinct
    * payloads, duplicate count and the payload bytes a keep-one pass
    * reclaims. Payloads never compare byte-to-byte: the 128-bit content
    * hash is computed in one narrow scan, then two partial-agg levels —
    * (kind, fp) groups first (all members share one payload size, so
    * the reclaimable bytes are (cnt-1)·nb without identifying dupes
    * row-wise), then the per-kind rollup. No window, no countDistinct
    * Expand, shuffle carries O(distinct payloads). */
  def mmDedup(s: SparkSession, dir: String): DataFrame = {
    val groups = fromDocuments(s, dir).toDF()
      .select(col("kind"), md5(col("bytes")).as("fp"), col("nBytes"))
      .groupBy("kind", "fp")
      .agg(count(lit(1)).as("cnt"), max(col("nBytes")).as("nb"))
    groups.groupBy("kind")
      .agg(
        sum(col("cnt")).as("n_assets"),
        count(lit(1)).as("n_distinct"),
        sum(col("cnt") - 1).as("n_dupes"),
        sum((col("cnt") - 1) * col("nb")).as("dupe_bytes"))
      .orderBy("kind")
  }

  /** Average-hash bits of one payload — the perceptual-hash (aHash)
    * recipe over the decode stub: the byte stream splits into 64
    * BALANCED contiguous segments (position p lands in segment
    * ⌊p·64/n⌋ — the 8×8 thumbnail a real aHash box-filters pixels
    * into), and bit k is 1 iff segment k's mean exceeds the global
    * mean. The comparison cross-multiplies (`seg_sum·n > total·seg_len`
    * — all BIGINT) so it is EXACT with no division anywhere; segments
    * empty at n < 64 read 0. Emitted as a 64-char '0'/'1' string
    * (bit-k ascending): a signed-64 integer hash would overflow
    * differently across engines at bit 63, a string replays anywhere. */
  private[graft] def ahashBits(bytes: Array[Byte]): String = {
    val n = bytes.length
    val segSum = new Array[Long](64)
    val segLen = new Array[Long](64)
    var total = 0L
    var p = 0
    while (p < n) {
      val k = ((p.toLong * 64L) / n).toInt
      val v = (bytes(p) & 0xff).toLong
      segSum(k) += v
      segLen(k) += 1
      total += v
      p += 1
    }
    val sb = new java.lang.StringBuilder(64)
    var k = 0
    while (k < 64) {
      sb.append(if (segSum(k) * n > total * segLen(k)) '1' else '0')
      k += 1
    }
    sb.toString
  }

  /** Walsh-Hadamard hash bits of one payload — the frequency-structure
    * perceptual hash (the wHash recipe: pHash's DCT swapped for the
    * Walsh-Hadamard transform, whose ±1 basis keeps every coefficient
    * an EXACT integer, so the hash replays bit-for-bit cross-engine
    * with no cosine anywhere). The first 64·⌊n/64⌋ bytes form an 8×8
    * thumbnail of equal-length segment sums (equal lengths, unlike
    * [[ahashBits]]'s balanced split, so transform signs over sums equal
    * signs over means); coef(u,v) = Σᵢⱼ (-1)^(pop(u&i)+pop(v&j))·S(i,j)
    * is the 2-d WHT (H = Sylvester H₈, H[u][i] = (-1)^popcount(u&i));
    * bit b is 1 iff AC coefficient b exceeds the MEDIAN of the 63 AC
    * coefficients (classic wHash median binarization — balanced by
    * construction). aHash thresholds brightness per cell; wHash
    * thresholds coarse frequency structure, so the two catch different
    * near-dup edits. Undersized payloads (n < 64) return "" — no
    * thumbnail exists. 63-char '0'/'1' string, coefficient-(u,v)
    * row-major ascending, DC skipped. */
  private[graft] def whashBits(bytes: Array[Byte]): String = {
    val n = bytes.length
    val q = n / 64
    if (q == 0) return ""
    val s = new Array[Long](64)
    var k = 0
    while (k < 64) {
      var p = k * q
      val end = p + q
      var acc = 0L
      while (p < end) { acc += (bytes(p) & 0xff).toLong; p += 1 }
      s(k) = acc
      k += 1
    }
    val coef = new Array[Long](64)
    var u = 0
    while (u < 64) {
      val uu = u / 8
      val vv = u % 8
      var acc = 0L
      var i = 0
      while (i < 8) {
        var j = 0
        while (j < 8) {
          val par = Integer.bitCount(uu & i) + Integer.bitCount(vv & j)
          val v = s(i * 8 + j)
          acc += (if ((par & 1) == 0) v else -v)
          j += 1
        }
        i += 1
      }
      coef(u) = acc
      u += 1
    }
    val ac = java.util.Arrays.copyOfRange(coef, 1, 64)
    val sorted = ac.clone()
    java.util.Arrays.sort(sorted)
    val med = sorted(31)
    val sb = new java.lang.StringBuilder(63)
    var b = 0
    while (b < 63) { sb.append(if (ac(b) > med) '1' else '0'); b += 1 }
    sb.toString
  }

  /** The orthonormal 8-point DCT-II basis, computed ONCE with StrictMath
    * and embedded as round-trip-exact literals in the oracle SQL (the
    * §5 trained-literal discipline — the cosines never recompute across
    * engines): C(u)(i) = a(u)·cos((2i+1)uπ/16), a(0)=√(1/8), else √(2/8). */
  private[graft] val DctC: Array[Array[Double]] = Array.tabulate(8, 8) { (u, i) =>
    val a = if (u == 0) StrictMath.sqrt(1.0 / 8.0) else StrictMath.sqrt(2.0 / 8.0)
    a * StrictMath.cos(((2 * i + 1) * u * StrictMath.PI) / 16.0)
  }

  /** DCT hash bits of one payload — the CLASSIC pHash recipe (the
    * industry-standard perceptual index next to [[ahashBits]] and
    * [[whashBits]]; same thumbnail, the Walsh-Hadamard ±1 basis swapped
    * for the real 2-d DCT-II): the first 64·⌊n/64⌋ bytes form the 8×8
    * equal-segment thumbnail S, coef(u,v) = Σ_w (C(u)(i)·C(v)(j))·S(w)
    * in ONE FIXED w-ascending fold (w = i·8+j — the oracle's
    * list_reduce replays the identical double operand order over the
    * identical [[DctC]] literals, so every coefficient is bit-exact
    * cross-engine), and bit b is 1 iff AC coefficient b exceeds the
    * MEDIAN of the 63 AC coefficients (balanced by construction; the
    * median is an order statistic of identical doubles — no tolerance
    * anywhere). Undersized payloads (n < 64) return "". 63-char
    * '0'/'1' string, row-major, DC skipped. */
  private[graft] def phashBits(bytes: Array[Byte]): String = {
    val n = bytes.length
    val q = n / 64
    if (q == 0) return ""
    val s = new Array[Long](64)
    var k = 0
    while (k < 64) {
      var p = k * q
      val end = p + q
      var acc = 0L
      while (p < end) { acc += (bytes(p) & 0xff).toLong; p += 1 }
      s(k) = acc
      k += 1
    }
    val coef = new Array[Double](64)
    var u = 0
    while (u < 64) {
      val cu = DctC(u / 8)
      val cv = DctC(u % 8)
      var acc = 0.0
      var w = 0
      while (w < 64) {
        acc += (cu(w / 8) * cv(w % 8)) * s(w).toDouble
        w += 1
      }
      coef(u) = acc
      u += 1
    }
    val ac = java.util.Arrays.copyOfRange(coef, 1, 64)
    val sorted = ac.clone()
    java.util.Arrays.sort(sorted)
    val med = sorted(31)
    val sb = new java.lang.StringBuilder(63)
    var b = 0
    while (b < 63) { sb.append(if (ac(b) > med) '1' else '0'); b += 1 }
    sb.toString
  }

  /** `CAST('<shortest-roundtrip-repr>' AS DOUBLE)` — string→double
    * parsing is correctly rounded in DuckDB, so the literal comes back
    * bit-identical to the Spark-side double (the ArrayQueries.fmtD
    * discipline). */
  private def fmtD(d: Double): String =
    s"CAST('${java.lang.Double.toString(d)}' AS DOUBLE)"

  private def md5Hex(bytes: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    val sb = new java.lang.StringBuilder(32)
    d.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  /** Perceptual near-dup groups for image-kind assets — the multimodal
    * near-dedup face (crawled image corpora are full of re-encoded /
    * lightly-edited copies an exact hash misses; production stacks run
    * pHash/aHash exactly here): per asset ONE narrow per-partition pass
    * computes the 64-bit average-hash over the decode stub
    * ([[ahashBits]] — swap the byte stream for decoded grayscale pixels
    * and the pipeline is unchanged) plus the exact content fingerprint;
    * then the mm_dedup two-level aggregate shape — (ahash, fp) groups
    * first, per-ahash rollup second — yields per bucket the asset
    * count, DISTINCT exact payloads (n_assets > n_distinct = exact
    * copies, n_distinct > 1 = true near-dups) and the min-id
    * representative; a keep-one consumer filters n_assets >= 2. Output
    * is the dedup map: O(distinct buckets) rows, shuffle carries
    * O(distinct (ahash, fp)); payload bytes never move. */
  /** The per-asset perceptual signature relation (id, fp, ahash, whash)
    * from ONE decode-stub pass over the image assets, persisted (the
    * signatureTable posture): four faces read it — both dedup maps
    * ([[mmAhash]]/[[mmWhash]]) and the cluster/keep-one consumers — so
    * the payload-touching pass runs once per session, and payload bytes
    * never outlive it (only the 64/63-bit hash strings + the md5
    * fingerprint leave the map task). */
  private def perceptualRel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Artifacts.persist(
      fromDocuments(s, dir)
        .filter(_.kind == "image")
        .mapPartitions(_.map(m =>
          (m.id, md5Hex(m.bytes), ahashBits(m.bytes), whashBits(m.bytes),
            phashBits(m.bytes))))
        .toDF("id", "fp", "ahash", "whash", "phash"))
  }

  def mmAhash(s: SparkSession, dir: String): DataFrame = {
    val hashed = perceptualRel(s, dir)
    hashed
      .groupBy("ahash", "fp")
      .agg(count(lit(1)).as("cnt"), min(col("id")).as("mid"))
      .groupBy("ahash")
      .agg(sum(col("cnt")).as("n_assets"),
        count(lit(1)).as("n_distinct"),
        min(col("mid")).as("rep_id"))
      .orderBy("ahash", "rep_id")
  }

  /** Frequency-structure near-dup groups for image-kind assets — the
    * [[mmAhash]] dedup-map shape over [[whashBits]] (Walsh-Hadamard
    * median-binarized bits instead of brightness-vs-mean bits): the
    * second perceptual index a production image-dedup stack runs
    * because the two hashes disagree on different edit classes
    * (brightness shifts flip aHash cells but barely move the WHT
    * spectrum's ordering; structural edits do the reverse). Undersized
    * payloads (< 64 bytes — no 8×8 thumbnail) are excluded. Same scale
    * posture: one narrow per-partition pass, O(distinct (whash, fp))
    * shuffle, payload bytes never move. */
  def mmWhash(s: SparkSession, dir: String): DataFrame = {
    val hashed = perceptualRel(s, dir).filter(length(col("whash")) > 0)
    hashed
      .groupBy("whash", "fp")
      .agg(count(lit(1)).as("cnt"), min(col("id")).as("mid"))
      .groupBy("whash")
      .agg(sum(col("cnt")).as("n_assets"),
        count(lit(1)).as("n_distinct"),
        min(col("mid")).as("rep_id"))
      .orderBy("whash", "rep_id")
  }

  /** DCT near-dup groups for image-kind assets — the [[mmAhash]]
    * dedup-map shape over [[phashBits]] (classic pHash: the THIRD
    * perceptual index, thresholding true cosine frequency structure
    * where wHash thresholds the ±1 Walsh basis — the two spectra order
    * coefficients differently, so their buckets split different edit
    * classes). The DCT basis is a driver-side StrictMath literal table
    * shared verbatim with the oracle; the cluster faces stay on the
    * established aHash ∪ wHash union. Same scale posture: one narrow
    * per-partition pass, O(distinct (phash, fp)) shuffle, payload bytes
    * never move. */
  def mmPhash(s: SparkSession, dir: String): DataFrame = {
    val hashed = perceptualRel(s, dir).filter(length(col("phash")) > 0)
    hashed
      .groupBy("phash", "fp")
      .agg(count(lit(1)).as("cnt"), min(col("id")).as("mid"))
      .groupBy("phash")
      .agg(sum(col("cnt")).as("n_assets"),
        count(lit(1)).as("n_distinct"),
        min(col("mid")).as("rep_id"))
      .orderBy("phash", "rep_id")
  }

  /** Star edges of one perceptual bucketing: every member of a >= 2
    * bucket links to the bucket's min id — O(members-in-dup-buckets)
    * edges by construction, never the m² clique (the dd_cdc_cluster
    * posture). `members` carries (id, <key>). */
  private def starEdges(members: DataFrame, key: String): DataFrame = {
    val mn = members.groupBy(key)
      .agg(min(col("id")).as("mv"), count(lit(1)).as("n"))
    members.hint("shuffle_hash").join(mn.filter(col("n") >= 2), Seq(key))
      .filter(col("id") =!= col("mv"))
      .select(col("mv").as("va"), col("id").as("vb"))
  }

  /** Connected-component labels over the UNION of the aHash and wHash
    * near-dup bucket graphs ([[graft.operators.Dedup.ccLabels]] — the
    * pointer-doubled loop, fingerprint-memoized so the cluster and
    * keep-one faces run it once): the two hashes catch different edit
    * classes (brightness shifts vs structural edits), so production
    * image dedup unions their evidence before resolving groups —
    * exactly the dd_cluster shape at the multimodal face. */
  private def perceptualLabels(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.ccLabels(s, dir, "mm_perceptual", "documents") {
      val rel = perceptualRel(s, dir)
      starEdges(rel.select("id", "ahash"), "ahash")
        .unionByName(starEdges(
          rel.filter(length(col("whash")) > 0).select("id", "whash"), "whash"))
        .distinct()
    }

  /** Perceptual near-dup clusters across BOTH hash maps — the
    * multimodal twin of dd_cluster, completing the §2.G family's
    * symmetry with the dedup chain (map → cluster → keep-one): one row
    * per connected component of the ahash ∪ whash bucket graph, labeled
    * by its min asset id. Scale: edges are O(members in >=2 buckets)
    * stars, the CC loop is O(log diameter) rounds over the edge
    * relation, and nothing payload-sized ever enters the graph. */
  def mmNearCluster(s: SparkSession, dir: String): DataFrame =
    perceptualLabels(s, dir)
      .groupBy("lbl").agg(count(lit(1)).as("n_members"))
      .select(col("lbl").as("cluster_id"), col("n_members"))
      .orderBy("cluster_id")

  /** Keep-one over the perceptual clusters — the [[mmNearCluster]]
    * consumer face (dd_keep_one's multimodal twin): every
    * non-representative cluster member drops via a left-anti join on
    * the loser set (O(assets-in-dup-buckets), shuffle-hash on id);
    * survivors and their payload bytes report per modality (non-image
    * kinds pass through untouched — the perceptual maps only cover
    * images). */
  def mmKeepOne(s: SparkSession, dir: String): DataFrame = {
    val losers = perceptualLabels(s, dir)
      .filter(col("v") =!= col("lbl")).select(col("v"))
    fromDocuments(s, dir).toDF()
      .join(losers.hint("shuffle_hash"), col("id") === col("v"), "left_anti")
      .groupBy("kind")
      .agg(count(lit(1)).as("n_kept"), sum(col("nBytes")).as("kept_bytes"))
      .orderBy("kind")
  }

  /** Oracle-checkable metadata extraction (no stubbed values). */
  def mmBinaryMeta(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        octet_length(encode(col("text"), "utf-8")).cast("bigint").as("n_bytes"),
        ascii(col("text")).cast("bigint").as("first_code"),
        md5(col("text")).as("content_md5"))
      .orderBy("doc_id")

  /** Payload-size profile per modality — the storage-planning histogram
    * a media lake reads before sizing partitions/caches (how skewed are
    * asset sizes per kind?): log2 size buckets computed in EXACT integer
    * arithmetic (`length(bin(n)) - 1` — floor(log2) without the
    * floating-point boundary hazard at powers of two), per (kind,
    * bucket) counts, extremes and exact byte totals. Pure metadata scan
    * — payload bytes are never touched, the §2.G columnar-metadata
    * contract at its cheapest. */
  def mmBytesHist(s: SparkSession, dir: String): DataFrame =
    fromDocuments(s, dir).toDF()
      .select(col("kind"),
        (length(bin(col("nBytes"))) - 1).cast("bigint").as("bucket"),
        col("nBytes"))
      .groupBy("kind", "bucket")
      .agg(count(lit(1)).as("n_assets"),
        min(col("nBytes")).as("min_bytes"),
        max(col("nBytes")).as("max_bytes"),
        sum(col("nBytes")).as("total_bytes"))
      .orderBy("kind", "bucket")

  /** Member-level perceptual CTEs for the cluster/keep-one oracles:
    * `ahashed(doc_id, ahash)` and `whashed(doc_id, whash)` — the
    * mm_ahash / mm_whash replay chains with prefixed CTE names so both
    * live in one WITH — plus the star-edge union `edges(va, vb)` (per
    * >=2 bucket: every member links to the bucket min, the Spark side's
    * exact construction). */
  private val PM_MEMBER_CTES: String =
    """pm AS (
      |  SELECT doc_id, hex(encode(text)) AS hx,
      |    octet_length(encode(text)) AS n
      |  FROM documents WHERE doc_id % 3 = 0),
      |apos AS (
      |  SELECT doc_id, CAST((p * 64) // n AS INT) AS k,
      |    CAST((instr('0123456789ABCDEF', substring(hx, CAST(2*p+1 AS INT), 1)) - 1) * 16
      |       + (instr('0123456789ABCDEF', substring(hx, CAST(2*p+2 AS INT), 1)) - 1) AS BIGINT) AS v
      |  FROM (SELECT doc_id, n, hx, unnest(range(0, n)) AS p FROM pm)),
      |asegs AS (SELECT doc_id, k, SUM(v) AS ssum, COUNT(*) AS slen
      |          FROM apos GROUP BY 1, 2),
      |atot AS (SELECT doc_id, SUM(ssum) AS total FROM asegs GROUP BY 1),
      |abits AS (
      |  SELECT d.doc_id, kk.k,
      |    CASE WHEN COALESCE(s.ssum, 0) * d.n
      |           > COALESCE(t.total, 0) * COALESCE(s.slen, 0)
      |         THEN '1' ELSE '0' END AS b
      |  FROM pm d
      |  CROSS JOIN (SELECT unnest(range(64)) AS k) kk
      |  LEFT JOIN asegs s ON s.doc_id = d.doc_id AND s.k = kk.k
      |  LEFT JOIN atot t ON t.doc_id = d.doc_id),
      |ahashed AS (
      |  SELECT doc_id, string_agg(b, '' ORDER BY k) AS ahash
      |  FROM abits GROUP BY 1),
      |wd2 AS (SELECT doc_id, n // 64 AS q, hx FROM pm WHERE n // 64 > 0),
      |wcodes AS (
      |  SELECT doc_id, q, list_transform(range(0, q * 64),
      |    p -> CAST((instr('0123456789ABCDEF', substring(hx, CAST(2*p+1 AS INT), 1)) - 1) * 16
      |       + (instr('0123456789ABCDEF', substring(hx, CAST(2*p+2 AS INT), 1)) - 1) AS BIGINT)) AS cs
      |  FROM wd2),
      |wsegs AS (
      |  SELECT doc_id, list_transform(range(0, 64),
      |    k -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |           cs[CAST(k * q + 1 AS INT):CAST((k + 1) * q AS INT)]),
      |         (a, b) -> a + b)) AS sg
      |  FROM wcodes),
      |wcoefs AS (
      |  SELECT doc_id, list_transform(range(0, 64), u ->
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 64),
      |      w -> CASE WHEN (bit_count(CAST((u // 8) & (w // 8) AS BIGINT))
      |                    + bit_count(CAST((u % 8) & (w % 8) AS BIGINT))) % 2 = 0
      |           THEN sg[CAST(w + 1 AS INT)] ELSE -sg[CAST(w + 1 AS INT)] END)),
      |      (a, b) -> a + b)) AS cf
      |  FROM wsegs),
      |wmed AS (SELECT doc_id, cf[2:64] AS ac,
      |           list_sort(cf[2:64])[32] AS md FROM wcoefs),
      |whashed AS (SELECT doc_id,
      |        list_reduce(list_prepend('', list_transform(ac,
      |          x -> CASE WHEN x > md THEN '1' ELSE '0' END)),
      |          (a, b) -> a || b) AS whash
      |      FROM wmed),
      |amin AS (SELECT ahash, MIN(doc_id) AS mv, COUNT(*) AS c
      |         FROM ahashed GROUP BY 1),
      |aedges AS (
      |  SELECT a.mv AS va, h.doc_id AS vb
      |  FROM ahashed h JOIN amin a USING (ahash)
      |  WHERE a.c >= 2 AND h.doc_id != a.mv),
      |wmin AS (SELECT whash, MIN(doc_id) AS mv, COUNT(*) AS c
      |         FROM whashed GROUP BY 1),
      |wedges AS (
      |  SELECT w.mv AS va, h.doc_id AS vb
      |  FROM whashed h JOIN wmin w USING (whash)
      |  WHERE w.c >= 2 AND h.doc_id != w.mv),
      |edges AS (SELECT va, vb FROM aedges UNION SELECT va, vb FROM wedges)""".stripMargin

  val oracles: Map[String, String] = Map(
    "mm_near_cluster" ->
      s"""WITH RECURSIVE $PM_MEMBER_CTES,
         |${graft.operators.Dedup.ccCte}
         |SELECT cluster_id, COUNT(*) AS n_members FROM comp
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "mm_keep_one" ->
      s"""WITH RECURSIVE $PM_MEMBER_CTES,
         |${graft.operators.Dedup.ccCte},
         |losers AS (SELECT v FROM comp WHERE v != cluster_id)
         |SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
         |    WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |  COUNT(*) AS n_kept,
         |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS kept_bytes
         |FROM documents WHERE doc_id NOT IN (SELECT v FROM losers)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // wHash replayed relationally: EXACT payload bytes via hex-pair
    // parsing (not ascii(char) — byte-faithful beyond ASCII), 64
    // equal-length q-byte segments over the first 64q bytes, the 2-d
    // Walsh-Hadamard via the popcount sign rule, median binarization
    // over the 63 AC coefficients — everything integer, so the hash
    // string matches bit-for-bit
    "mm_whash" ->
      """WITH m AS (
        |  SELECT doc_id, md5(text) AS fp, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS nb
        |  FROM documents WHERE doc_id % 3 = 0),
        |d2 AS (SELECT doc_id, fp, nb // 64 AS q, hx FROM m WHERE nb // 64 > 0),
        |codes AS (
        |  SELECT doc_id, fp, q, list_transform(range(0, q * 64),
        |    p -> CAST((instr('0123456789ABCDEF', substring(hx, CAST(2*p+1 AS INT), 1)) - 1) * 16
        |       + (instr('0123456789ABCDEF', substring(hx, CAST(2*p+2 AS INT), 1)) - 1) AS BIGINT)) AS cs
        |  FROM d2),
        |segs AS (
        |  SELECT doc_id, fp, list_transform(range(0, 64),
        |    k -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           cs[CAST(k * q + 1 AS INT):CAST((k + 1) * q AS INT)]),
        |         (a, b) -> a + b)) AS sg
        |  FROM codes),
        |coefs AS (
        |  SELECT doc_id, fp, list_transform(range(0, 64), u ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 64),
        |      w -> CASE WHEN (bit_count(CAST((u // 8) & (w // 8) AS BIGINT))
        |                    + bit_count(CAST((u % 8) & (w % 8) AS BIGINT))) % 2 = 0
        |           THEN sg[CAST(w + 1 AS INT)] ELSE -sg[CAST(w + 1 AS INT)] END)),
        |      (a, b) -> a + b)) AS cf
        |  FROM segs),
        |med AS (SELECT doc_id, fp, cf[2:64] AS ac,
        |          list_sort(cf[2:64])[32] AS md FROM coefs),
        |h AS (SELECT doc_id, fp,
        |        list_reduce(list_prepend('', list_transform(ac,
        |          x -> CASE WHEN x > md THEN '1' ELSE '0' END)),
        |          (a, b) -> a || b) AS whash
        |      FROM med),
        |g AS (SELECT whash, fp, COUNT(*) AS cnt, MIN(doc_id) AS mid
        |      FROM h GROUP BY 1, 2)
        |SELECT whash, CAST(SUM(cnt) AS BIGINT) AS n_assets,
        |  COUNT(*) AS n_distinct, CAST(MIN(mid) AS BIGINT) AS rep_id
        |FROM g GROUP BY whash
        |ORDER BY whash, rep_id""".stripMargin,
    // exact byte-sum frames via hex-pair parsing; NULL first-frame prev
    // routes the CASE to 0 in both engines
    "mm_scene_cuts" ->
      s"""WITH m AS (
         |  SELECT doc_id, hex(encode(text)) AS hx,
         |    octet_length(encode(text)) AS n
         |  FROM documents WHERE doc_id % 3 = 2),
         |f AS (
         |  SELECT doc_id, i AS frame_idx,
         |    CAST(list_sum(list_transform(range(16 * i, least(16 * (i + 1), n)),
         |      p -> (instr('0123456789ABCDEF', substring(hx, CAST(2*p+1 AS INT), 1)) - 1) * 16
         |         + (instr('0123456789ABCDEF', substring(hx, CAST(2*p+2 AS INT), 1)) - 1)))
         |      AS BIGINT) AS fsum
         |  FROM (SELECT doc_id, hx, n,
         |          unnest(range(0, CAST(ceil(n / 16.0) AS BIGINT))) AS i
         |        FROM m)),
         |l AS (SELECT doc_id, fsum,
         |        LAG(fsum) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
         |      FROM f)
         |SELECT doc_id AS id, COUNT(*) AS n_frames,
         |  CAST(SUM(CASE WHEN abs(fsum - prev) > ${SceneCutDelta}
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
         |  CAST(MAX(abs(fsum - prev)) AS BIGINT) AS max_delta
         |FROM l GROUP BY 1 ORDER BY 1""".stripMargin,
    // same thumbnail extraction as mm_whash; the coefficient fold runs
    // over the IDENTICAL DctC literals in the IDENTICAL w-ascending
    // order, so every double (and the AC median order statistic) is
    // bit-exact cross-engine
    "mm_phash" -> {
      val cl = DctC.flatten.map(fmtD).mkString("[", ", ", "]")
      s"""WITH m AS (
         |  SELECT doc_id, md5(text) AS fp, hex(encode(text)) AS hx,
         |    octet_length(encode(text)) AS nb
         |  FROM documents WHERE doc_id % 3 = 0),
         |d2 AS (SELECT doc_id, fp, nb // 64 AS q, hx FROM m WHERE nb // 64 > 0),
         |codes AS (
         |  SELECT doc_id, fp, q, list_transform(range(0, q * 64),
         |    p -> CAST((instr('0123456789ABCDEF', substring(hx, CAST(2*p+1 AS INT), 1)) - 1) * 16
         |       + (instr('0123456789ABCDEF', substring(hx, CAST(2*p+2 AS INT), 1)) - 1) AS BIGINT)) AS cs
         |  FROM d2),
         |segs AS (
         |  SELECT doc_id, fp, list_transform(range(0, 64),
         |    k -> list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           cs[CAST(k * q + 1 AS INT):CAST((k + 1) * q AS INT)]),
         |         (a, b) -> a + b)) AS sg
         |  FROM codes),
         |clt AS (SELECT $cl AS cl),
         |coefs AS (
         |  SELECT doc_id, fp, list_transform(range(0, 64), u ->
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(0, 64),
         |      w -> (cl[CAST((u // 8) * 8 + (w // 8) + 1 AS INT)]
         |          * cl[CAST((u % 8) * 8 + (w % 8) + 1 AS INT)])
         |          * CAST(sg[CAST(w + 1 AS INT)] AS DOUBLE))),
         |      (a, b) -> a + b)) AS cf
         |  FROM segs CROSS JOIN clt),
         |med AS (SELECT doc_id, fp, cf[2:64] AS ac,
         |          list_sort(cf[2:64])[32] AS md FROM coefs),
         |h AS (SELECT doc_id, fp,
         |        list_reduce(list_prepend('', list_transform(ac,
         |          x -> CASE WHEN x > md THEN '1' ELSE '0' END)),
         |          (a, b) -> a || b) AS phash
         |      FROM med),
         |g AS (SELECT phash, fp, COUNT(*) AS cnt, MIN(doc_id) AS mid
         |      FROM h GROUP BY 1, 2)
         |SELECT phash, CAST(SUM(cnt) AS BIGINT) AS n_assets,
         |  COUNT(*) AS n_distinct, CAST(MIN(mid) AS BIGINT) AS rep_id
         |FROM g GROUP BY phash
         |ORDER BY phash, rep_id""".stripMargin
    },
    "mm_bytes_hist" ->
      """WITH m AS (
        |  SELECT
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |      WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    octet_length(encode(text)) AS nb
        |  FROM documents)
        |SELECT kind, CAST(length(bin(nb)) - 1 AS BIGINT) AS bucket,
        |  COUNT(*) AS n_assets,
        |  CAST(MIN(nb) AS BIGINT) AS min_bytes,
        |  CAST(MAX(nb) AS BIGINT) AS max_bytes,
        |  CAST(SUM(nb) AS BIGINT) AS total_bytes
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "mm_binary_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(ascii(text) AS BIGINT) AS first_code,
        |  md5(text) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // kind mapping twin: (doc_id % 3 + 1) into 1-based
    // ["image","audio","video"] == doc_id % 3 = 2 for video
    "mm_frame_sample" ->
      """SELECT doc_id AS id, CAST(i AS BIGINT) AS frame_idx,
        |  CAST(LEAST(16, octet_length(encode(text)) - 16 * i) AS BIGINT)
        |    AS frame_bytes
        |FROM (
        |  SELECT doc_id, text,
        |    unnest(range(0, CAST(ceil(octet_length(encode(text)) / 16.0)
        |                         AS BIGINT))) AS i
        |  FROM documents WHERE doc_id % 3 = 2)
        |WHERE i % 4 = 0
        |ORDER BY id, frame_idx""".stripMargin,
    // byte math over the all-ASCII corpus: ascii(char) == byte value, so
    // the stub's checksum/histogram are exact char-code aggregates
    "mm_decode_stats" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |      WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    octet_length(encode(text)) AS nb,
        |    list_transform(regexp_extract_all(text, '(?s).'),
        |                   c -> ascii(c)) AS codes
        |  FROM documents)
        |SELECT kind, COUNT(*) AS n_assets,
        |  CAST(SUM(nb) AS BIGINT) AS total_bytes,
        |  CAST(SUM(COALESCE(list_sum(codes), 0)) AS BIGINT)
        |    AS total_checksum,
        |  CAST(SUM(len(list_filter(codes, c -> c // 16 = 7))) AS BIGINT)
        |    AS hist_bin7
        |FROM m GROUP BY kind ORDER BY kind""".stripMargin,
    // image kind: doc_id % 3 = 0; factor-2 subsample keeps 0-based even
    // byte positions = 1-based odd list indices = range(1, n+1, 2)
    "mm_resize" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    list_transform(regexp_extract_all(text, '(?s).'),
        |                   c -> ascii(c)) AS codes
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT doc_id AS id,
        |  CAST(len(codes) AS BIGINT) AS orig_bytes,
        |  CAST(len(range(1, len(codes) + 1, 2)) AS BIGINT) AS resized_bytes,
        |  CAST(COALESCE(list_sum(list_transform(range(1, len(codes) + 1, 2),
        |                                        i -> codes[i])), 0) AS BIGINT)
        |    AS resized_checksum
        |FROM m ORDER BY id""".stripMargin,
    // replay the aHash byte math over EXACT payload bytes (hex-pair
    // parsing of encode(text), the mm_whash extraction — byte-faithful
    // beyond ASCII, ADVICE r16): position p in segment (p*64)//n, bit
    // k = seg_sum*n > total*seg_len (exact BIGINT cross-multiply),
    // empty segments read 0 via the 64-row scaffold
    "mm_ahash" ->
      """WITH m AS (
        |  SELECT doc_id, md5(text) AS fp, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS n
        |  FROM documents WHERE doc_id % 3 = 0),
        |docs AS (SELECT doc_id, fp, n FROM m),
        |pos AS (
        |  SELECT doc_id, CAST((p * 64) // n AS INT) AS k,
        |    CAST((instr('0123456789ABCDEF', substring(hx, CAST(2*p+1 AS INT), 1)) - 1) * 16
        |       + (instr('0123456789ABCDEF', substring(hx, CAST(2*p+2 AS INT), 1)) - 1) AS BIGINT) AS v
        |  FROM (SELECT doc_id, n, hx, unnest(range(0, n)) AS p FROM m)),
        |segs AS (SELECT doc_id, k, SUM(v) AS ssum, COUNT(*) AS slen
        |         FROM pos GROUP BY 1, 2),
        |tot AS (SELECT doc_id, SUM(ssum) AS total FROM segs GROUP BY 1),
        |bits AS (
        |  SELECT d.doc_id, d.fp, kk.k,
        |    CASE WHEN COALESCE(s.ssum, 0) * d.n
        |           > COALESCE(t.total, 0) * COALESCE(s.slen, 0)
        |         THEN '1' ELSE '0' END AS b
        |  FROM docs d
        |  CROSS JOIN (SELECT unnest(range(64)) AS k) kk
        |  LEFT JOIN segs s ON s.doc_id = d.doc_id AND s.k = kk.k
        |  LEFT JOIN tot t ON t.doc_id = d.doc_id),
        |hashed AS (
        |  SELECT doc_id, fp, string_agg(b, '' ORDER BY k) AS ahash
        |  FROM bits GROUP BY 1, 2),
        |g AS (SELECT ahash, fp, COUNT(*) AS cnt, MIN(doc_id) AS mid
        |      FROM hashed GROUP BY 1, 2)
        |SELECT ahash, CAST(SUM(cnt) AS BIGINT) AS n_assets,
        |  COUNT(*) AS n_distinct, CAST(MIN(mid) AS BIGINT) AS rep_id
        |FROM g GROUP BY ahash
        |ORDER BY ahash, rep_id""".stripMargin,
    // payload = utf8(text), so md5(payload) == md5(text) in both engines
    "mm_dedup" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |      WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    octet_length(encode(text)) AS nb, md5(text) AS fp
        |  FROM documents),
        |g AS (SELECT kind, fp, COUNT(*) AS cnt, MAX(nb) AS nb
        |      FROM m GROUP BY 1, 2)
        |SELECT kind, CAST(SUM(cnt) AS BIGINT) AS n_assets,
        |  COUNT(*) AS n_distinct,
        |  CAST(SUM(cnt - 1) AS BIGINT) AS n_dupes,
        |  CAST(SUM((cnt - 1) * nb) AS BIGINT) AS dupe_bytes
        |FROM g GROUP BY kind ORDER BY kind""".stripMargin,
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_binary_meta" -> (mmBinaryMeta _),
    "mm_frame_sample" -> (mmFrameSample _),
    "mm_decode_stats" -> (mmDecodeStats _),
    "mm_resize" -> (mmResize _),
    "mm_dedup" -> (mmDedup _),
    "mm_bytes_hist" -> (mmBytesHist _),
    "mm_ahash" -> (mmAhash _),
    "mm_whash" -> (mmWhash _),
    "mm_phash" -> (mmPhash _),
    "mm_scene_cuts" -> (mmSceneCuts _),
    "mm_near_cluster" -> (mmNearCluster _),
    "mm_keep_one" -> (mmKeepOne _),
  )
}
