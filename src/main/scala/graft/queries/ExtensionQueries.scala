package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{Multimodal, NearDup, Similarity, TextAnalysis}

/** North-star training-data-pipeline extensions (builder prompt +
  * SURVEY.md §2.7/§7 step 6): dedup suite, similarity search, text
  * analysis, multimodal plumbing. EVERY query carries a strict DuckDB
  * oracle: the approximate pipelines are checked either against brute
  * force (MinHash — the LSH output provably equals all-pairs at this
  * geometry) or by full cross-engine replay over engine-neutral
  * hashing (SimHash via md5-derived token hashes, SRP-LSH via
  * explicit-arithmetic planes).
  */
object ExtensionQueries {

  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)
  private def emb(s: SparkSession, dir: String)  = Tables.embeddings(s, dir)

  // q20 — exact dedup via hash-groupBy (raw content hash).
  private def q20(s: SparkSession, dir: String): DataFrame =
    NearDup.exactByHash(docs(s, dir), col("doc_id"), md5(col("text")))

  // q21 — pairwise token-set Jaccard near-dup (quadratic baseline,
  // language-blocked, sampled).
  private def q21(s: SparkSession, dir: String): DataFrame =
    NearDup.jaccardPairs(
      docs(s, dir).filter(col("doc_id") % 5 === 0),
      "doc_id", TextAnalysis.wordTokens(col("text")), "lang", threshold = 0.8)

  // q22 — MinHash+LSH near-dup pairs (scale path). At 128 hashes / 32
  // bands the deterministic detection probability at j>=0.8 is high
  // enough that the LSH output EQUALS the exact all-pairs result on
  // BOTH test corpora including sf0.1's ~3M boundary-heavy pairs
  // (measured 2026-08: 0 missing / 0 spurious; the previous 96/24
  // missed 2 of 2,968,398 at sf0.1; the strict oracle row re-checks
  // sf0.01 on every Verify run, MinHashSpec the planted recall), so
  // the query carries a strict DuckDB equality oracle computed by
  // brute force — the oracle knows nothing about MinHash.
  private def q22(s: SparkSession, dir: String): DataFrame =
    NearDup.minHashPairs(docs(s, dir), "doc_id", TextAnalysis.wordTokens(col("text")),
      numHashes = 128, bands = 32, threshold = 0.8)
      .select(col("id_a"), col("id_b"), r4(col("jaccard")).as("jaccard"))

  // q148 — CONTAINMENT SCORING over the near-dup pair set: Jaccard
  // under-reports asymmetric duplication (a short doc wholly quoted
  // inside a long one scores low), so each surfaced pair also gets
  // both directed containments |A∩B|/|A| and |A∩B|/|B| — the signal
  // that separates "mutual near-dup" from "A quotes B". The
  // intersection size is RECOVERED from the verified pair's exact
  // jaccard and the two set sizes (i = j·(|A|+|B|)/(1+j), an integer
  // — rounded to kill the last-ulp float error), so the pair stream
  // is never re-verified: one broadcast-size join against the per-doc
  // size table on each side. Same LSH-equals-brute-force contract as
  // q22 (the pair SET is identical; this query adds columns).
  private def q148(s: SparkSession, dir: String): DataFrame = {
    val pairs = NearDup.minHashPairs(docs(s, dir), "doc_id", TextAnalysis.wordTokens(col("text")),
      numHashes = 128, bands = 32, threshold = 0.8)
    val sizes = docs(s, dir).select(col("doc_id"),
      size(array_distinct(TextAnalysis.wordTokens(col("text")))).cast("long").as("n"))
    pairs
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("inter", floor(
        col("jaccard") * (col("n_a") + col("n_b")) / (col("jaccard") + 1) + lit(0.5)).cast("long"))
      .select(col("id_a"), col("id_b"), r4(col("jaccard")).as("jaccard"),
        col("n_a"), col("n_b"),
        r4(col("inter").cast("double") / col("n_a")).as("contain_ab"),
        r4(col("inter").cast("double") / col("n_b")).as("contain_ba"))
  }

  // q149 — CROSS-SOURCE LEAKAGE MATRIX: the near-dup pair set rolled
  // up by (source, source) — the provenance view a curation run reads
  // before deciding which feed to trust (mass on the diagonal =
  // within-source re-posts; off-diagonal = scraped mirrors/leakage
  // between feeds). Pure composition: the q22 pair stream joined to
  // the doc→source map on each side (at 100 TB the map rides the
  // existing doc-keyed shuffles), normalized so source_a <= source_b,
  // then a |sources|²-bounded aggregate.
  private def q149(s: SparkSession, dir: String): DataFrame = {
    val pairs = NearDup.minHashPairs(docs(s, dir), "doc_id", TextAnalysis.wordTokens(col("text")),
      numHashes = 128, bands = 32, threshold = 0.8)
    val src = docs(s, dir).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("s_a")), Seq("id_a"))
      .join(src.select(col("doc_id").as("id_b"), col("source").as("s_b")), Seq("id_b"))
      .select(least(col("s_a"), col("s_b")).as("source_a"),
        greatest(col("s_a"), col("s_b")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  // q47 — MinHash+LSH over 3-gram word SHINGLES (the standard
  // near-dup unit: word-order rewrites don't survive shingle
  // jaccard). Same strict brute-force equality oracle as q22.
  private def q47(s: SparkSession, dir: String): DataFrame =
    NearDup.minHashPairs(docs(s, dir), "doc_id",
      TextAnalysis.shingles(TextAnalysis.wordTokens(col("text")), 3),
      numHashes = 128, bands = 32, threshold = 0.8)
      .select(col("id_a"), col("id_b"), r4(col("jaccard")).as("jaccard"))

  // q48 — near-dup CLUSTERS: connected components over the verified
  // shingle-MinHash pairs -> every doc assigned its cluster (min-id
  // canonical), cluster size, survivor flag — the step that turns
  // pair lists into an actual dedup decision. Shingle jaccard is the
  // production near-dup definition (word-SET jaccard marks word-order
  // rewrites as duplicates — see q47); identical docs still cluster
  // via the canonical-set nodes. Oracle recomputes the components
  // with a recursive label-propagation CTE over the exact brute-force
  // shingle pairs.
  private def q48(s: SparkSession, dir: String): DataFrame = {
    val (sets, setPairs) = NearDup.minHashSetPairs(docs(s, dir), "doc_id",
      TextAnalysis.shingles(TextAnalysis.wordTokens(col("text")), 3),
      numHashes = 128, bands = 32, threshold = 0.8)
    graft.operators.ConnectedComponents.dedupAssignmentBySets(sets, setPairs)
  }

  // q23 — SimHash near-dup pairs (banded Hamming join). The token
  // hash is md5-derived (NearDup.md5TokenHash) rather than xxhash64,
  // so the ENTIRE pipeline — 60-bit token hashes, per-bit +1/-1 sums,
  // simhash assembly, 4x16-bit pigeonhole banding, Hamming<=3 verify —
  // replays in DuckDB and the query carries a strict hash oracle
  // (previously rows-only; xxhash64 is engine-internal).
  private def q23(s: SparkSession, dir: String): DataFrame = {
    val sim = NearDup.simHash(docs(s, dir), "doc_id",
      TextAnalysis.wordTokens(col("text")), NearDup.md5TokenHash)
    NearDup.simHashPairs(sim, maxDist = 3)
  }

  // q24 — text quality scoring.
  private def q24(s: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.wordTokens(col("text"))
    docs(s, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_m"),
      size(TextAnalysis.wsTokens(col("text"))).cast("long").as("n_ws_tokens"),
      size(toks).cast("long").as("n_word_tokens"),
      r4(TextAnalysis.totalTokenLen(toks).cast("double") / nullif(size(toks), lit(0))).as("avg_token_len"),
      r4(TextAnalysis.punctCount(col("text")).cast("double") / nullif(length(col("text")), lit(0))).as("punct_ratio"),
      r4(TextAnalysis.stopwordCount(toks).cast("double") / nullif(size(toks), lit(0))).as("stop_ratio"),
      r4(TextAnalysis.qualityScore(
        size(toks).cast("double"),
        TextAnalysis.punctCount(col("text")).cast("double") / nullif(length(col("text")), lit(0)),
        TextAnalysis.stopwordCount(toks).cast("double") / nullif(size(toks), lit(0)))).as("quality")
    )
  }

  // q25 — language-ID heuristic vs the labeled lang column.
  private def q25(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      TextAnalysis.langId(col("text")).as("pred_lang"),
      col("lang"),
      (TextAnalysis.langId(col("text")) === col("lang")).as("is_match")
    )

  // q26 — token counting: whitespace, BPE-ish regex, chars/4 estimate.
  private def q26(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      size(TextAnalysis.wsTokens(col("text"))).cast("long").as("n_ws"),
      size(TextAnalysis.bpeishTokens(col("text"))).cast("long").as("n_bpeish"),
      expr("n_chars DIV 4").as("n_chars_div4")
    )

  // q27 — normalized document fingerprint + dupe grouping.
  private def q27(s: SparkSession, dir: String): DataFrame =
    NearDup.exactByHash(docs(s, dir), col("doc_id"), TextAnalysis.fingerprint(col("text")))

  // q28 — brute-force cosine top-k (exact ANN baseline). Rank over the
  // ROUNDED cosine (ties then broken by neighbor_id) so cross-engine
  // 1-ulp summation differences cannot flip ranks.
  private def q28(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val scored = Similarity.scoreAll(e.filter(col("vec_id") < 10), e, "vec_id", "embedding")
      .withColumn("cos_r", r4(col("cos"))).drop("cos")
    Similarity.topK(scored, 5, col("cos_r"))
  }

  // q144 — INT8 SCALAR-QUANTIZED SIMILARITY SERVING (SQ8 — the other
  // standard vector-compression family next to PQ/q104: FAISS's
  // ScalarQuantizer, 4x smaller than float32 with near-exact recall):
  // every embedding is quantized per-vector symmetric int8 — scale =
  // max|x|/127, code = clamp(round(x/scale)) — and top-5 cosine is
  // served over the DEQUANTIZED vectors, with each served neighbor
  // audited against the exact-float top-5 (`exact_hit`: the recall
  // readout a quantization rollout gates on). Every arithmetic step
  // is replayable: round-half-up via floor(x+0.5) (no libm rounding
  // modes), the per-vector max and divisions IEEE-exact, and the
  // dot/norm path is q28's already-pinned left-fold. Scale shape:
  // quantization is a pure map pass (at 100 TB the int8 codes are
  // what lands in the vector store — the 4x scan saving is the
  // point); serving is the q28 broadcast-queries + BoundedTopK
  // partial-agg shape twice (quantized + exact audit), no extra
  // shuffles beyond the two per-query top-k aggregations.
  private def q144(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val dq = e.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("scale",
        aggregate(col("v"), lit(0d), (a, x) => greatest(a, abs(x))) / lit(127d))
      .withColumn("embedding", when(col("scale") === lit(0d),
          transform(col("v"), _ => lit(0d)))
        .otherwise(transform(col("v"), x =>
          greatest(lit(-127d), least(lit(127d), floor(x / col("scale") + lit(0.5))))
            * col("scale"))))
      .select(col("vec_id"), col("embedding"))
    val served = {
      val scored = Similarity.scoreAll(dq.filter(col("vec_id") < 10), dq, "vec_id", "embedding")
        .withColumn("cos_r", r4(col("cos"))).drop("cos")
      Similarity.topK(scored, 5, col("cos_r"))
    }
    val exact = {
      val scored = Similarity.scoreAll(e.filter(col("vec_id") < 10), e, "vec_id", "embedding")
        .withColumn("cos_r", r4(col("cos"))).drop("cos")
      Similarity.topK(scored, 5, col("cos_r"))
        .select(col("query_id"), col("neighbor_id"), lit(true).as("exact_hit"))
    }
    served.join(exact, Seq("query_id", "neighbor_id"), "left")
      .withColumn("exact_hit", coalesce(col("exact_hit"), lit(false)))
  }

  // q166 — SOURCE CENTROID SIMILARITY MATRIX: the pairwise cosine
  // between each source's mean embedding — the embedding-space "which
  // domains are semantically close" map that complements q150's
  // token-space KL divergence (two sources can share vocabulary but
  // diverge semantically, and vice versa); mixture designers read
  // this matrix to avoid double-weighting near-identical crawls.
  // Embeddings join to their documents' source on id (the corpus
  // convention: vec i embeds doc i). Exactness: each component is
  // micro-quantized ONCE (float->double is exact, then one floor —
  // the q110 mu rule), per-(source, dim) sums are exact integers, and
  // the mean re-quantizes once — so the centroid VECTORS are
  // integer-valued and bitwise identical across engines before the
  // one cosine formula. Scale shape: one (source, dim) partial-agg
  // shuffle over the exploded corpus (|sources| x 64 rows out); the
  // pair join runs on the |sources|-row centroid table — the q110
  // volume-independent-matrix argument.
  private def q166(s: SparkSession, dir: String): DataFrame = {
    val j = emb(s, dir).select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .join(docs(s, dir).select(col("doc_id"), col("source")),
        col("vec_id") === col("doc_id"))
    val cents = j
      .select(col("source"), posexplode(col("v")).as(Seq("dim", "x")))
      .withColumn("qfp", floor(col("x") * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy(col("source"), col("dim"))
      .agg(sum(col("qfp")).as("sfp"), count(lit(1)).as("n"))
      // floor() yields LongType — cast back to double so the centroid
      // array matches DotProduct's array<double> contract (a long
      // array would be bit-reinterpreted by getDouble)
      .withColumn("m", floor(col("sfp").cast("double") / col("n") + lit(0.5)).cast("double"))
      .groupBy(col("source"))
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("__s"))
      .select(col("source"), transform(col("__s"), s => s.getField("m")).as("centroid"))
    val a = cents.select(col("source").as("source_a"), col("centroid").as("ca"))
    val b = cents.select(col("source").as("source_b"), col("centroid").as("cb"))
    val den = Similarity.l2norm(col("ca")) * Similarity.l2norm(col("cb"))
    a.crossJoin(b).filter(col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        when(den > 0, r4(Similarity.dot(col("ca"), col("cb")) / den)).as("cos_r"))
  }

  // q164 — MATRYOSHKA PREFIX-DIM SERVING (MRL — Kusupati et al.,
  // NeurIPS 2022, arXiv:2205.13147): serve top-5 cosine over only the
  // FIRST 16 of 64 dims. MRL-trained embeddings nest their information
  // front-loaded, so a prefix slice is itself a valid (coarser)
  // embedding — the third compression geometry in this battery's
  // family (q144 quantizes precision, q162 quantizes to sign bits,
  // this one truncates dimensions: 4x less memory bandwidth AND 4x
  // fewer multiplies per candidate, no codebook at all). Each served
  // neighbor is audited against the full-dim exact top-5 (`exact_hit`
  // — the recall a dimension-truncation rollout gates on; the corpus
  // here is NOT MRL-trained, so the measured recall is the honest
  // un-front-loaded floor). Scale shape: the slice is a pure map pass
  // (at 100 TB the 64-byte prefixes are the resident tier, full
  // vectors stay cold until rerank); serving is the q28 broadcast +
  // BoundedTopK partial-agg shape on both arms.
  private def q164(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val pre = e.select(col("vec_id"),
      slice(col("embedding").cast("array<double>"), 1, 16).as("embedding"))
    val served = {
      val sc = Similarity.scoreAll(pre.filter(col("vec_id") < 10), pre, "vec_id", "embedding")
        .withColumn("cos_r", r4(col("cos"))).drop("cos")
      Similarity.topK(sc, 5, col("cos_r"))
    }
    val exact = {
      val sc = Similarity.scoreAll(e.filter(col("vec_id") < 10), e, "vec_id", "embedding")
        .withColumn("cos_r", r4(col("cos"))).drop("cos")
      Similarity.topK(sc, 5, col("cos_r"))
        .select(col("query_id"), col("neighbor_id"), lit(true).as("exact_hit"))
    }
    served.join(exact, Seq("query_id", "neighbor_id"), "left")
      .withColumn("exact_hit", coalesce(col("exact_hit"), lit(false)))
  }

  // q162 — BINARY-QUANTIZED ANN (BQ: 1 bit/dim sign quantization +
  // Hamming shortlist + exact rerank): the 32x-compression end of the
  // vector-compression family this battery already covers at 4x (SQ8,
  // q144) and ~8-64x (PQ, q104) — and the one modern vector stores
  // default to for the FIRST pass, because Hamming distance over
  // packed sign bits is a couple of XOR+POPCNT instructions per
  // candidate (the same sign-random-projection geometry as q23/q39
  // SimHash/SRP, here on the raw axes). Serving is two-stage: top-50
  // shortlist by exact integer Hamming distance (deterministic
  // (ham, neighbor_id) order), then exact-float cosine rerank to
  // top-5, audited against the uncompressed top-5 (`exact_hit` — the
  // recall readout a BQ rollout gates on). The 64-dim corpus packs
  // into two 32-bit lanes of two BIGINTs (bit 63 of a single lane
  // would overflow signed 64 on the SQL side — the two-lane split is
  // the engine-portable packing). Scale shape: packing is one codegen
  // map pass (at 100 TB the 16-byte codes ARE the resident index —
  // 32x less scan than float32); the shortlist is the q28
  // broadcast-queries + BoundedTopK partial-agg shape over integer
  // codes only (vectors never ride the candidate exchange), and the
  // float vectors are touched for exactly |queries| x 50 rerank rows
  // via two id-joins.
  private def q162(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val ev = e.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    def lane(loLane: Boolean): Column = aggregate(
      transform(col("v"), (x, i) => {
        val inLane = if (loLane) i < 32 else i >= 32
        val sh = if (loLane) i else i - lit(32)
        when(inLane && (x >= lit(0d)), call_function("shiftleft", lit(1L), sh))
          .otherwise(lit(0L))
      }),
      lit(0L), (a, b) => a + b)
    val packed = ev.select(col("vec_id"), lane(loLane = true).as("lo"), lane(loLane = false).as("hi"))
    val qb = packed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("lo").as("qlo"), col("hi").as("qhi"))
    val scored = packed.crossJoin(broadcast(qb))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (bit_count(col("lo").bitwiseXOR(col("qlo"))) +
          bit_count(col("hi").bitwiseXOR(col("qhi")))).cast("long").as("ham"))
    val short = Similarity.topK(scored, 50, -col("ham")).drop("rnk")
    val rr = short
      .join(ev.select(col("vec_id").as("query_id"), col("v").as("qv")), Seq("query_id"))
      .join(ev.select(col("vec_id").as("neighbor_id"), col("v").as("cv")), Seq("neighbor_id"))
      .withColumn("cos_r", r4(Similarity.dot(col("qv"), col("cv"))
        / (Similarity.l2norm(col("qv")) * Similarity.l2norm(col("cv")))))
      .select(col("query_id"), col("neighbor_id"), col("ham"), col("cos_r"))
    val served = Similarity.topK(rr, 5, col("cos_r"))
    val exact = {
      val sc = Similarity.scoreAll(e.filter(col("vec_id") < 10), e, "vec_id", "embedding")
        .withColumn("cos_r", r4(col("cos"))).drop("cos")
      Similarity.topK(sc, 5, col("cos_r"))
        .select(col("query_id"), col("neighbor_id"), lit(true).as("exact_hit"))
    }
    served.join(exact, Seq("query_id", "neighbor_id"), "left")
      .withColumn("exact_hit", coalesce(col("exact_hit"), lit(false)))
  }

  // q124 — HARD-NEGATIVE MINING (contrastive-training data op): per
  // query, the top-k most-similar candidates BELOW the positive band
  // (cos < 0.95). Near-duplicates and true positives would poison a
  // negative set, while random negatives carry no gradient signal —
  // the hard ones (closest non-positives) are what retrieval/embedding
  // training mines for (DPR/ANCE recipe). Pure composition: the q28
  // exact scorer with a band filter ahead of the bounded top-k; at
  // corpus scale the scorer swaps for IVF-PQ serving (q118) unchanged
  // — rank lists in, band filter, negatives out.
  private def q124(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val scored = Similarity.scoreAll(e.filter(col("vec_id") < 10), e, "vec_id", "embedding")
      .withColumn("cos_r", r4(col("cos"))).drop("cos")
      .filter(col("cos_r") < lit(0.95))
    Similarity.topK(scored, 5, col("cos_r"))
  }

  // q29 — bucket-pruned ANN (IVF pattern over the label column).
  private def q29(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val scored = Similarity.scoreBucketed(e.filter(col("vec_id") < 10), e, "vec_id", "embedding", "label")
      .withColumn("cos_r", r4(col("cos"))).drop("cos")
    Similarity.topK(scored, 5, col("cos_r"))
  }

  // q30 — multimodal metadata extraction (binary payload conventions).
  private def q30(s: SparkSession, dir: String): DataFrame =
    Multimodal.fromDocuments(docs(s, dir)).select(
      col("media_id"), col("kind"), col("n_bytes"),
      md5(col("bytes")).as("content_md5")
    )

  // q31 — multimodal decode stub: partition-batched feature extraction
  // over binary payloads (rows-only; deterministic fake features).
  private def q31(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeStub(s, Multimodal.fromDocuments(docs(s, dir))).toDF()

  // q101 — multimodal FRAME SAMPLING: a 64-byte frame every 256 bytes
  // of each payload (the every-nth-frame access pattern), emitted as
  // hex for cross-engine compare. Pure map-side explode over the
  // binary column — no codec, no shuffle; the oracle replays the
  // slicing on the VARCHAR side (the corpus is pure ASCII, so byte
  // and character offsets coincide — checked: octet_length == length
  // for every doc) and encodes to the same hex.
  private def q101(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(Multimodal.fromDocuments(docs(s, dir)), frameSize = 64, stride = 256)
      .select(col("media_id"), col("frame_idx"), hex(col("frame")).as("frame_hex"))

  // q32 — rolling-hash fingerprint via the custom codegen'd Catalyst
  // expression (rows-only).
  private def q32(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), TextAnalysis.rollingFingerprint(col("text")).as("rhash"))

  // q103 — multimodal container-header decode (REAL, no codec): build
  // planted PNG/JPEG/WAV payloads with correct byte layouts (SQL byte
  // assembly, distributed), then parse dimensions / bit depth /
  // channels / sample rate / frame count back out of the BYTES with
  // the codegen MediaHeaderExpr (PNG IHDR, JPEG SOF marker walk, RIFF
  // chunk walk). The oracle predicts every field arithmetically from
  // doc_id — the decode is only correct if the parser actually reads
  // the planted headers; MediaHeaderSpec additionally pins the parser
  // against real-file byte vectors so builder and parser can't share
  // a compensating layout bug. duration_ms = frames/rate is the one
  // derived float, r4-rounded on both sides.
  private def q103(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeHeaders(Multimodal.headerFixtures(docs(s, dir)))
      .withColumn("duration_ms", r4(col("n_frames") * lit(1000.0) / col("sample_rate")))

  // q171 — MP4/ISO-BMFF VIDEO HEADER DECODE: the video leg of the
  // multimodal family (q103 covers image/audio) — planted ftyp + moov
  // (mvhd v0 + trak/tkhd v0) payloads assembled distributed in SQL
  // bytes, then timescale / duration / display dimensions parsed back
  // out by the codegen box walk. The oracle predicts every field
  // ARITHMETICALLY from doc_id — the decode is only right if the
  // parser actually walks the planted boxes (and MediaHeaderSpec pins
  // the walk against an independent hand-assembled byte vector, so
  // builder and parser can't share a compensating layout bug).
  // duration_ms = duration·1000/timescale is the q103 closing rule.
  // Scale shape: pure map pass over leading bytes — no shuffle at
  // all; at 100 TB this is the metadata-extraction scan that never
  // fetches payload bodies.
  private def q171(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeHeaders(Multimodal.mp4Fixtures(docs(s, dir)))
      .select(col("media_id"), col("format"), col("width"), col("height"),
        col("sample_rate").as("timescale"), col("n_frames").as("duration_units"))
      .withColumn("duration_ms", r4(col("duration_units") * lit(1000.0) / col("timescale")))

  // q206 — FLAC AUDIO HEADER DECODE (RFC 9639): the lossless-audio
  // leg of the multimodal family — real "fLaC" + STREAMINFO payloads
  // whose BIT-PACKED fields (20-bit sample rate, 3-bit channels−1,
  // 5-bit bps−1, 36-bit total samples spanning a nibble + 4 bytes)
  // are assembled distributed from per-row arithmetic and decoded by
  // the same codegen expression that handles PNG/JPEG/WAV/MP4. The
  // oracle predicts every field from the SAME arithmetic, so the
  // hash match proves the SQL byte packing and the expression's bit
  // unpacking are exact inverses — including the 36-bit n_frames
  // straddling the byte-13 nibble boundary. duration_s closes as
  // n_frames/sample_rate (the q103/q171 closing rule).
  private def q206(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeHeaders(Multimodal.flacFixtures(docs(s, dir)))
      .select(col("media_id"), col("format"), col("channels"),
        col("sample_rate"), col("bits_per_sample"), col("n_frames"))
      .withColumn("duration_s",
        r4(col("n_frames").cast("double") / col("sample_rate").cast("double")))

  // q207 — MP3 FRAME HEADER DECODE (ISO 11172-3 Layer III): the
  // lossy-audio leg completing the audio triple (WAV = raw PCM,
  // FLAC = lossless, MP3 = lossy) — payloads carry a per-row-sized
  // ID3v2 tag whose 28-bit SYNCSAFE length (7 payload bits per byte;
  // sizes cross the 7-bit boundary) must be unpacked to even FIND
  // the frame, then the frame's packed version/bitrate-index/
  // rate-index/mode fields resolve through the version-specific
  // Layer III tables. The oracle predicts channels, sample rate and
  // bitrate from the same arithmetic through CASE tables, so the
  // hash match proves syncsafe skip + table lookup are exact
  // inverses of the fixture packing. No n_frames on purpose: one
  // header cannot know a VBR stream's length, and guessing is not
  // decoding (documented in the parser).
  private def q207(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeMp3Headers(Multimodal.mp3Fixtures(docs(s, dir)))

  // q104 — PRODUCT-QUANTIZATION ANN, the full serving shape: compress
  // unit vectors to 16 byte codes (16 subspaces x 256-cell codebooks
  // — 16x smaller than the raw float32 column), ADC-shortlist 25
  // candidates per query from the codes alone, then exact-rerank only
  // the shortlist. Codebooks train with rank-grid-seeded cells (every
  // cell populated — ntile parity with DuckDB is the q83 precedent) +
  // one Lloyd round (1e-4-rounded argmins, code tiebreaks), so the
  // ENTIRE pipeline — training, encoding, distance tables, shortlist,
  // rerank — replays in DuckDB from scratch. PQSpec pins recall vs
  // the exact scan and the compressed shape.
  private def q104(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    graft.functions.ProductQuant.pqRerankTopK(e.filter(col("vec_id") < 10), e,
      "vec_id", "embedding", nSub = 16, dim = 64, nbPerDim = 4, lloydRounds = 1,
      shortlist = 25, k = 5)
  }

  // q118 — IVF-PQ, the composed billion-scale ANN architecture: q37's
  // coarse bucket routing (nprobe=2) gating q104's ADC-over-byte-codes
  // scoring, exact rerank of the final shortlist only. The oracle
  // replays BOTH index builds end-to-end (label centroids + rounded
  // probe ranks; grid-seeded PQ training) and the bucket-gated ADC —
  // the composition introduces no new hashing, so full replay comes
  // from splicing the two proven blocks.
  private def q118(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    graft.functions.ProductQuant.ivfPqTopK(e.filter(col("vec_id") < 10), e,
      "vec_id", "embedding", "label", nSub = 16, dim = 64, nbPerDim = 4, lloydRounds = 1,
      nprobe = 2, shortlist = 25, k = 5)
  }

  // q33 — deterministic train/val/test split (multiplicative hash of
  // the id — reproducible across runs/partitionings/engines; note ids
  // must stay below ~2^33: DuckDB BIGINT overflow is checked, Spark
  // with ANSI off wraps).
  private def q33(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling.split(docs(s, dir), col("doc_id"))
      .select(col("doc_id"), col("split"))

  // q34 — per-source quota sampling (domain balancing): top-5 docs per
  // source by (n_chars desc, doc_id).
  private def q34(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling.quotaPerGroup(
      docs(s, dir), col("source"), Seq(col("n_chars").desc, col("doc_id")), quota = 5)
      .select(col("doc_id"), col("source"), col("n_chars"))

  // q35 — exact order statistics: interpolated quartiles of integer
  // quantities (dyadic interpolation of ints is float-exact in both
  // engines) + exact distinct count per group.
  private def q35(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    // Two small aggregations joined on the tiny group key instead of
    // one: mixing countDistinct with other aggregates forces an
    // Expand (row duplication) through every buffer; separated, the
    // percentile buffer sees each row once (one buffer serves all
    // three quantiles) and the distinct count is a plain two-level agg.
    val pct = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))").as("__qs"),
        count(lit(1)).as("n_rows"))
    val dst = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n_orders"))
    pct.join(dst, Seq("l_returnflag"))
      .select(col("l_returnflag"),
        col("__qs")(0).as("q25"), col("__qs")(1).as("q50"), col("__qs")(2).as("q75"),
        col("n_orders"), col("n_rows"))
  }

  // q36 — fixed-size overlapping chunks (context-window prep):
  // size 256, overlap 56 (stride 200).
  private def q36(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      posexplode(TextAnalysis.chunks(col("text"), col("n_chars"), size = 256, overlap = 56)))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"), col("col").as("chunk"),
        length(col("col")).cast("long").as("chunk_chars"))

  // q37 — IVF top-k with computed centroids (nprobe=1). Oracle-checked:
  // the centroid assignment ranks on ROUNDED similarity (bucket
  // tiebreak) and the final rank on ROUNDED cos, so engine-side ulp
  // noise in the float sums cannot flip either ranking.
  private def q37(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val scored = Similarity.ivfScore(e.filter(col("vec_id") < 10), e, "vec_id", "embedding", "label")
      .withColumn("cos_r", r4(col("cos"))).drop("cos")
    Similarity.topK(scored, 5, col("cos_r"))
      .select(col("query_id"), col("bucket"), col("neighbor_id"), col("rnk"), col("cos_r"))
  }

  // q46 — content-defined chunking. Oracle-checked: the hash cut only
  // fires once the window is FULL, so the cut predicate is a
  // start-independent property of each byte position (windowed
  // polynomial hash) — the oracle precomputes cut/snap flags per
  // position with window functions and walks boundaries with a
  // recursive CTE + next-cut suffix-min lookups. Edit-stability and
  // concat-lossless invariants are additionally pinned by
  // CdcChunksSpec.
  private def q46(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      posexplode(graft.functions.CdcChunks.column(col("text"))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"), col("col").as("chunk"),
        length(col("col")).cast("long").as("chunk_chars"))

  // q45 — IVF multi-probe (nprobe=2): each query scans its two nearest
  // centroid buckets; same rounded-assignment determinism as q37.
  private def q45(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val scored = Similarity.ivfScore(e.filter(col("vec_id") < 10), e, "vec_id", "embedding", "label", nprobe = 2)
      .withColumn("cos_r", r4(col("cos"))).drop("cos")
    Similarity.topK(scored, 5, col("cos_r"))
      .select(col("query_id"), col("bucket"), col("neighbor_id"), col("rnk"), col("cos_r"))
  }

  // q38 — embedding-cosine near-dup pairs (exact quadratic baseline).
  private def q38(s: SparkSession, dir: String): DataFrame =
    NearDup.embeddingPairs(emb(s, dir), "vec_id", "embedding", threshold = 0.3)
      .select(col("id_a"), col("id_b"), r4(col("cos")).as("cos"))

  // q39 — embedding near-dup via SRP-LSH bucket pruning (scale path).
  // Planes come from explicit integer arithmetic
  // (Similarity.srpBucketExplicit), so the FULL pipeline — plane
  // signs, per-table bucket ids, candidate collisions, exact-cosine
  // verify — replays in DuckDB and the query carries a strict hash
  // oracle (previously rows-only under MurmurHash3 planes). NOTE: SRP
  // recall is a function of similarity (P[bit agree] = 1-θ/π); at the
  // true near-dup regime (cos>=0.85) recall is high, while at this
  // demo threshold (0.3 — this corpus has no real near-dup
  // embeddings) it is honestly low. The exact baseline is q38.
  private def q39(s: SparkSession, dir: String): DataFrame =
    NearDup.embeddingPairsLsh(emb(s, dir), "vec_id", "embedding", threshold = 0.3,
      bucketFn = Similarity.srpBucketExplicit(_, _, _, _))
      .select(col("id_a"), col("id_b"), r4(col("cos")).as("cos"))

  // q130 — SEMANTIC DEDUP, cluster-blocked (the SemDeDup recipe,
  // Abbas et al. 2023, arXiv:2303.09540): embedding-space near-dup
  // removal made linear by k-means blocking — vectors are assigned to
  // their nearest coarse centroid and ONLY within-cluster pairs are
  // scored, the approximation that lets a 100 TB corpus skip the
  // all-pairs join entirely (q38 is the exact-quadratic baseline,
  // q39 the LSH alternative; this is the clustering alternative, and
  // the three share the survivor contract). Drop rule: vector j is a
  // duplicate if some i < j in its cluster has cos >= 0.25; the
  // emitted row carries the blocking cluster, the minimal killer
  // (dup_of — the deterministic survivor pointer), the strongest
  // qualifying similarity, and the qualifying-pair count. Assignment
  // reuses the IVF write path (Similarity.assignBuckets: broadcast
  // centroids, 1e-4-rounded argmax, bucket tiebreak — reproducible
  // across engines); pair cosine is over RAW vectors, bitwise
  // cross-engine like q38. Scale shape: centroid build is one
  // (bucket, dim) partial-agg shuffle; assignment is map-side against
  // broadcast centroids; the pair join shuffles on bucket once, and k
  // grows with the corpus so cluster populations — and the per-task
  // quadratic — stay bounded (the paper's own scaling argument).
  private def q130(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val cents = Similarity.centroids(e, "embedding", "label")
    val assigned = Similarity.assignBuckets(e, cents, "vec_id", "embedding")
    val m = e.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .join(assigned, col("vec_id") === col("id")).drop("id")
      .withColumn("nn", Similarity.l2norm(col("v")))
    val a = m.select(col("bucket"), col("vec_id").as("i"), col("v").as("va"), col("nn").as("na"))
    val b = m.select(col("bucket"), col("vec_id").as("j"), col("v").as("vb"), col("nn").as("nb"))
    a.join(b, Seq("bucket")).filter(col("i") < col("j"))
      .withColumn("cos", Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= 0.25)
      .groupBy(col("bucket"), col("j").as("vec_id"))
      .agg(min(col("i")).as("dup_of"),
        r4(max(col("cos"))).as("max_cos"),
        count(lit(1)).as("n_dups"))
  }

  // q137 — GROWING-K SEMANTIC DEDUP: q130 with the SemDeDup paper's
  // actual scaling rule (Abbas et al. 2023, arXiv:2303.09540 §2: k is
  // chosen proportional to corpus size, keeping cluster populations —
  // and the within-cluster pair quadratic — FLAT as the corpus
  // grows). q130 blocks on the testdata's FIXED label clusters, so
  // its per-cluster population grows linearly with volume and the
  // pair work quadratically (the measured 100x squeeze); here
  // k = ceil(n / 100) derives from the corpus itself and the blocking
  // is a real 2-round Lloyd k-means (`Similarity.lloydIterate`) from
  // a deterministic vec_id % k seeding. Every stage is replayed by
  // the oracle: seed assignment, both centroid recomputations
  // (per-dim avg), both reassignments (1e-4-rounded cosine, min
  // bucket tiebreak — the engine-portable argmax rule), and the
  // within-cluster pair scan with the q130 drop rule. Scale shape:
  // assignment is n x k map-side work against a broadcast centroid
  // table (k rows — index-sized at any volume); the pair join
  // shuffles on bucket once and its per-task quadratic is capped by
  // the FLAT target population, so total pair work stays linear in n.
  private def q137(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val targetPop = 100L
    val n = e.count() // one column-pruned count scan; k must be a plan literal
    val k = math.max(1L, (n + targetPop - 1) / targetPop)
    val asg = Similarity.lloydIterate(
      e.withColumn("b0", col("vec_id") % k), "vec_id", "embedding", "b0", iters = 2)
    val m = e.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .join(asg.drop("sim"), col("vec_id") === col("id")).drop("id")
      .withColumn("nn", Similarity.l2norm(col("v")))
    val a = m.select(col("bucket"), col("vec_id").as("i"), col("v").as("va"), col("nn").as("na"))
    val b = m.select(col("bucket"), col("vec_id").as("j"), col("v").as("vb"), col("nn").as("nb"))
    a.join(b, Seq("bucket")).filter(col("i") < col("j"))
      .withColumn("cos", Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= 0.25)
      .groupBy(col("bucket"), col("j").as("vec_id"))
      .agg(min(col("i")).as("dup_of"),
        r4(max(col("cos"))).as("max_cos"),
        count(lit(1)).as("n_dups"))
  }

  // q160 — PROTOTYPICALITY PRUNING (the D4 recipe's second stage —
  // Tirumala et al. 2023, arXiv:2308.12284: after SemDeDup, rank each
  // cluster's members by similarity to the cluster centroid and DROP
  // the most prototypical head, because near-centroid points are the
  // cluster's redundant "template" mass while the tail carries the
  // diversity; SSL-prototypes, Sorscher et al. 2022, is the same rule
  // on image data). Blocking is q137's growing-k 2-round Lloyd
  // (k = ceil(n/100) — populations stay FLAT as the corpus grows),
  // the prototypicality score is the assignment-winning 1e-4-rounded
  // cosine the reassignment already computed (no extra pass), and the
  // per-cluster drop is the top 10% by (sim DESC, vec_id) rank.
  // Scale shape: the only volume-sized work is the Lloyd kernel pass;
  // the rank window partitions by BUCKET, whose population is pinned
  // at ~100 by the growing-k rule — per-partition work is CONSTANT at
  // any corpus size (the opposite of the q109 five-key shape), so the
  // window parallelism grows with k, i.e. with the corpus.
  private def q160(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val targetPop = 100L
    val n = e.count()
    val k = math.max(1L, (n + targetPop - 1) / targetPop)
    val asg = Similarity.lloydIterate(
      e.withColumn("b0", col("vec_id") % k), "vec_id", "embedding", "b0", iters = 2)
    val w = Window.partitionBy(col("bucket")).orderBy(col("sim").desc, col("id"))
    asg
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("bucket"))))
      .select(col("id").as("vec_id"), col("bucket"), col("sim").as("sim_r"),
        col("rnk"), (col("rnk") > expr("cnt DIV 10")).as("kept"))
  }

  // q138 — GROWING-K IVF ANN: the q45 nprobe-2 serving flow with the
  // coarse quantizer LEARNED from the corpus (q137's 2-round Lloyd,
  // k = ceil(n/100)) instead of the testdata's label clusters — the
  // composition that makes the IVF family corpus-scale-honest: the
  // bucket count grows with the data, bucket populations stay flat,
  // and a query still scans nprobe buckets = O(nprobe * targetPop)
  // candidates at ANY corpus size. Serving centroids are the means of
  // the FINAL partition (standard IVF practice; the oracle replays
  // them as a third centroid recomputation over a2). Scale shape:
  // clustering is the q137 kernel path (one map pass per round);
  // serving is probeBuckets' broadcast-centroid argmax + a
  // bucket-pruned scan + the BoundedTopK partial-agg top-k.
  private def q138(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val targetPop = 100L
    val n = e.count()
    val k = math.max(1L, (n + targetPop - 1) / targetPop)
    val asg = Similarity.lloydIterate(
      e.withColumn("b0", col("vec_id") % k), "vec_id", "embedding", "b0", iters = 2)
    val labeled = e.join(asg.select(col("id").as("vec_id"), col("bucket")), Seq("vec_id"))
    val scored = Similarity.ivfScore(labeled.filter(col("vec_id") < 10), labeled,
      "vec_id", "embedding", "bucket", nprobe = 2)
      .withColumn("cos_r", r4(col("cos"))).drop("cos")
    Similarity.topK(scored, 5, col("cos_r"))
      .select(col("query_id"), col("bucket"), col("neighbor_id"), col("rnk"), col("cos_r"))
  }

  // q106 — BPE TOKENIZER TRAINING: 12 merge rounds of the iterative
  // highest-frequency-pair loop over the word-type table (the
  // vocabulary-sized collapse of the corpus — the only thing the loop
  // touches). Deterministic by construction: exact integer pair
  // counts, lexicographic tiebreaks, and a double-space symbol
  // encoding that makes plain `replace` reproduce reference BPE's
  // non-consuming merge semantics identically in Spark and DuckDB —
  // so the oracle replays ALL 12 training rounds (seed, count, pick,
  // merge) as chained CTEs and must land on the same merge sequence.
  private def q106(s: SparkSession, dir: String): DataFrame =
    graft.functions.BpeTrain.train(s, docs(s, dir), col("text"), merges = 12)

  // q107 — FAITHFUL TOKEN COUNTS under the trained tokenizer: apply
  // q106's learned merges (in training order — the standard BPE
  // inference rule) to every word of every document and count the
  // resulting symbols. This is the count an LLM data pipeline
  // actually budgets by (vs q26's regex approximation); the oracle
  // re-trains the 12 merges from scratch AND re-applies them per word
  // with the same nested-replace semantics.
  private def q107(s: SparkSession, dir: String): DataFrame = {
    val merges = graft.functions.BpeTrain.train(s, docs(s, dir), col("text"), merges = 12)
      .orderBy("step").select("sym_a", "sym_b")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    // round-16: the merge-apply pass is heavy per-row work fused into
    // a row-group-bound scan stage (ran single-task); adaptive
    // fan-out, no-op at real scale
    graft.operators.Skew.fanOut(docs(s, dir)).select(col("doc_id"),
      aggregate(TextAnalysis.wordTokens(col("text")), lit(0),
        (acc, w) => acc + graft.functions.BpeTrain.applyMerges(w, merges))
        .cast("long").as("n_bpe_tokens"))
  }

  private def bpeOracleSql(merges: Int): String = {
    val finals = (1 to merges).map { r =>
      s"SELECT $r::BIGINT AS step, a AS sym_a, b AS sym_b, n AS pair_n, a || b AS merged FROM b$r"
    }.mkString("\nUNION ALL ")
    s"""${bpeTrainingCtes(merges)}
       |$finals""".stripMargin
  }

  /** The shared WITH-prefix that re-trains the q106 merges: wt, s0,
    * and `merges` materialized (p_r, b_r, s_r) rounds. MATERIALIZED is
    * load-bearing: each round references the prior one several times,
    * and inlined CTEs would re-derive the whole prefix exponentially
    * (4^12 scans of documents). */
  private def bpeTrainingCtes(merges: Int): String = {
    val rounds = (1 to merges).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT p.a AS a, p.b AS b, sum(wn)::BIGINT AS n FROM (
         |    SELECT wn, unnest(list_transform(range(1, len(ss)), i -> {'a': ss[i], 'b': ss[i+1]})) AS p
         |    FROM (SELECT wn, string_split(trim(seq), '  ') AS ss FROM s${r - 1})
         |  ) GROUP BY 1, 2
         |),
         |b$r AS MATERIALIZED (SELECT a, b, n FROM p$r ORDER BY n DESC, a, b LIMIT 1),
         |s$r AS MATERIALIZED (
         |  SELECT w, wn, replace(seq,
         |    ' ' || (SELECT a FROM b$r) || '  ' || (SELECT b FROM b$r) || ' ',
         |    ' ' || (SELECT a || b FROM b$r) || ' ') AS seq
         |  FROM s${r - 1}
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH wt AS (
       |  SELECT w, count(*)::BIGINT AS wn
       |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents)
       |  GROUP BY 1
       |),
       |s0 AS (
       |  SELECT w, wn,
       |    '  ' || array_to_string(list_transform(range(1, length(w) + 1), i -> w[i:i]), '  ') || '  </w>  ' AS seq
       |  FROM wt
       |),
       |$rounds""".stripMargin
  }

  private def bpeCountOracleSql(merges: Int): String = {
    val mCols = (1 to merges).map(r =>
      s"(SELECT a FROM b$r) AS a$r, (SELECT b FROM b$r) AS c$r").mkString(", ")
    val seed = "'  ' || array_to_string(list_transform(range(1, length(w) + 1), i -> w[i:i]), '  ') || '  </w>  '"
    val applied = (1 to merges).foldLeft(seed) { (e, r) =>
      s"replace($e, ' ' || m.a$r || '  ' || m.c$r || ' ', ' ' || m.a$r || m.c$r || ' ')"
    }
    s"""${bpeTrainingCtes(merges)},
       |m AS MATERIALIZED (SELECT $mCols),
       |d AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents)
       |SELECT d.doc_id,
       |  coalesce(list_sum(list_transform(d.toks, w -> len(string_split(trim($applied), '  ')))), 0)::BIGINT AS n_bpe_tokens
       |FROM d, m""".stripMargin
  }

  // q180 — MMR DIVERSIFIED TOP-K (maximal marginal relevance,
  // Carbonell & Goldstein SIGIR 1998): serve 5 results per query that
  // balance relevance against redundancy — pick_i maximizes
  // λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s) with λ = 1/2 — the
  // standard de-duplicated retrieval layer over a dense index (a
  // plain top-5 returns near-identical neighbors; RAG context windows
  // and search UIs both pay for that redundancy). Two-stage shape:
  // stage 1 is q28's exact shortlist (broadcast queries + BoundedTopK
  // partial agg, top-20 by r4-rounded cosine); stage 2 runs the
  // greedy selection as FOUR composed shortlist-sized steps — the
  // candidate-pair similarity table is |q|·20·19 rows, each step an
  // anti-join + max-aggregate + deterministic argmax (mmr desc,
  // neighbor_id) — nothing after the shortlist touches the corpus.
  // All scores are r4-quantized before comparison, so ranks and ties
  // are engine-portable; the mmr combine (0.5·rel − 0.5·maxsim) is
  // one shared IEEE sequence. Scale shape: at 100 TB the shortlist
  // stage is the only corpus scan (or its q118 IVF-PQ drop-in) and
  // persists EAGERLY (a lazy persist inside one composed plan lets
  // downstream references recompute the corpus scan before any block
  // is cached — measured 79.6 s at the 100x probe); the greedy
  // refinement runs as ONE flatMapGroups kernel over the bounded
  // per-query groups (Similarity.mmrGreedy) — the join/window
  // formulation schedules ~3^k recomputing micro-jobs, measured
  // 12.1 s warm vs ~1.5 s at 100x for identical output; MmrSpec pins
  // the two bitwise-equal.
  private[graft] def mmrFrames(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = emb(s, dir)
    val scored = Similarity.scoreAll(e.filter(col("vec_id") < 10), e, "vec_id", "embedding")
      .withColumn("rel_r", r4(col("cos"))).drop("cos")
    val shortlist = Similarity.topK(scored, 20, col("rel_r"))
      .select(col("query_id"), col("neighbor_id"), col("rel_r"), col("rnk"))
      .persist()
    shortlist.count() // materialize: ends the corpus-sized lineage here
    val vecs = shortlist
      .join(e.select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("v")), Seq("neighbor_id"))
      .withColumn("nrm", Similarity.l2norm(col("v")))
      .select(col("query_id"), col("neighbor_id"), col("v"), col("nrm"))
    val pairs = vecs.select(col("query_id"), col("neighbor_id").as("a_id"),
        col("v").as("av"), col("nrm").as("an"))
      .join(vecs.select(col("query_id"), col("neighbor_id").as("b_id"),
        col("v").as("bv"), col("nrm").as("bn")), Seq("query_id"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("query_id"), col("a_id"), col("b_id"),
        r4(Similarity.dot(col("av"), col("bv")) / (col("an") * col("bn"))).as("sim_r"))
    (shortlist, pairs)
  }

  private def q180(s: SparkSession, dir: String): DataFrame = {
    val (shortlist, pairs) = mmrFrames(s, dir)
    Similarity.mmrGreedy(shortlist, pairs, k = 5, lambda = 0.5)
  }

  // q186 — TOP PRINCIPAL COMPONENT of the embedding corpus by power
  // iteration: the mean vector, the dominant eigenvector (loadings)
  // and its eigenvalue — the primitive behind embedding whitening /
  // "all-but-the-top" post-processing (Mu & Viswanath, ICLR 2018:
  // removing the top component(s) improves similarity quality) and
  // the sanity readout (top-eigenvalue share) every embedding
  // pipeline monitors. Exactness: components quantize ONCE to 1e-4
  // integers; the scatter matrix M = n·Σxy − Σx·Σy is EXACT integer
  // arithmetic (decimal sums here, HUGEINT in DuckDB — M has the
  // same eigenvectors as the covariance, eigenvalue scaled by n²);
  // the 10 power iterations run on the collected 64×64 matrix with
  // FIXED-ORDER dots (ascending index — DuckDB replays them as
  // list_dot_product over ORDER BY-built lists, the q28-pinned
  // sequential kernel), and each normalized iterate SNAPS to the
  // 1e-6 grid so 1-ulp accumulation differences cannot compound
  // across iterations (the fixed-point-transcendental rule applied
  // to an iterative solver). Scale shape: the corpus-sized work is
  // ONE map-side pass exploding each vector's 64×64 outer product
  // into a (i, j) partial agg (no join, no shuffle of vectors); the
  // collected state is dim²+dim+1 values — bounded by the embedding
  // dimension like the PQ codebooks, not by the corpus.
  /** q186's collected PCA state — (n, per-dim integer sums, snapped
    * top component, scatter matrix M) — shared with q187's ABTT
    * projection. ONE Gram-aggregate pass feeds everything. */
  private[graft] def pcaState(s: SparkSession, dir: String): (Long, Array[Long], Array[Double], Array[Array[Double]]) = {
    // Gram matrix + first moments + count in ONE map-side aggregate
    // pass; the collected state is dim²+dim+1 longs, bounded by the
    // embedding dimension. Kernel shared with the streaming
    // incremental maintenance (functions.PowerIteration).
    graft.functions.PowerIteration.top(
      graft.functions.PowerIteration.gramBuffer(emb(s, dir), col("embedding"), 64), 64)
  }

  private def q186(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    val dim = 64
    val (n, sxRows, v, m) = pcaState(s, dir)
    import graft.functions.PowerIteration.{dotSeq => dot64}
    val mv = Array.tabulate(dim)(i => dot64(m(i), v))
    val ray = dot64(v, mv)
    val vv = dot64(v, v)
    val nd = n.toDouble
    def r4d(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    val eig = r4d(ray / vv / (nd * nd) / 1e8)
    val rows = (0 until dim).map { i =>
      (i, r4d(sxRows(i).toDouble / nd / 1e4), r4d(v(i)), eig)
    }
    import spark.implicits._
    rows.toDF("dim", "mean_r", "loading_r", "eigval_r")
  }

  // q188 — TWO-COMPONENT PCA WITH EXPLAINED-VARIANCE SHARES: the
  // q186 component plus the runner-up by Hotelling deflation
  // (M' = M − λ₁·v₁v₁ᵀ, then the same snapped power iterations), and
  // per-component explained-variance shares λ_k / trace(M) — the
  // spectrum readout (how concentrated is the embedding space?) that
  // decides HOW MANY components ABTT should strip and whether a
  // Matryoshka/PCA dimensionality cut is safe. Every step reuses the
  // q186 exactness discipline: exact-integer M, fixed-order dots,
  // snapped iterates; the deflation and the trace (the exact
  // diagonal, summed by the same sequential kernel) are one shared
  // IEEE sequence. Scale shape: identical to q186 — ONE corpus Gram
  // pass; everything else is dim²-bounded driver arithmetic.
  private def q188(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    val dim = 64
    import graft.functions.PowerIteration
    import PowerIteration.dotSeq
    val (n, _, v1, m) = pcaState(s, dir)
    val lam1 = PowerIteration.rayleigh(m, v1, dim)
    val m2 = PowerIteration.deflate(m, v1, lam1, dim)
    val v2 = PowerIteration.iterate(m2, dim)
    val lam2 = PowerIteration.rayleigh(m2, v2, dim)
    val trace = dotSeq(Array.tabulate(dim)(i => m(i)(i)), Array.fill(dim)(1d))
    val nd = n.toDouble
    def r4d(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    val rows =
      (0 until dim).map(i => (1, i, r4d(v1(i)),
        r4d(lam1 / (nd * nd) / 1e8), r4d(lam1 / trace))) ++
      (0 until dim).map(i => (2, i, r4d(v2(i)),
        r4d(lam2 / (nd * nd) / 1e8), r4d(lam2 / trace)))
    import spark.implicits._
    rows.toDF("component", "dim", "loading_r", "eigval_r", "var_share_r")
  }

  // q187 — ALL-BUT-THE-TOP POST-PROCESSED SERVING (Mu & Viswanath,
  // ICLR 2018): center every embedding on the corpus mean, remove its
  // projection on q186's top principal component, and serve top-5
  // cosine over the post-processed vectors — the standard embedding
  // post-processing that strips the dominant "common direction"
  // (which encodes frequency, not meaning) and measurably improves
  // similarity quality; each served neighbor carries an `exact_hit`
  // audit against the RAW top-5 (the q144 recall-readout pattern —
  // here the DIFFERENCE is the point: hits that drop out are exactly
  // the pairs the common direction was inflating). The mean and
  // component enter the plan as literal arrays (driver state from the
  // ONE Gram pass, dim-bounded); centering/projection/removal are one
  // codegen map pass (zip_with + the sequential DotProduct kernel, no
  // UDFs); serving is the q28 broadcast + BoundedTopK shape twice.
  private def q187(s: SparkSession, dir: String): DataFrame = {
    val (n, sxRows, v, _) = pcaState(s, dir)
    val nd = n.toDouble
    val mean = sxRows.map(sx => sx.toDouble / nd / 1e4)
    val vLit = typedlit(v.toIndexedSeq)
    val mLit = typedlit(mean.toIndexedSeq)
    val e = emb(s, dir)
    val post = e.select(col("vec_id"),
        zip_with(col("embedding").cast("array<double>"), mLit,
          (xi, mi) => xi - mi).as("c"))
      .withColumn("proj", Similarity.dot(col("c"), vLit))
      .select(col("vec_id"),
        zip_with(col("c"), vLit, (ci, vi) => ci - col("proj") * vi).as("embedding"))
      .filter(Similarity.dot(col("embedding"), col("embedding")) > 0)
    val served = {
      val scored = Similarity.scoreAll(post.filter(col("vec_id") < 10), post, "vec_id", "embedding")
        .withColumn("cos_r", r4(col("cos"))).drop("cos")
      Similarity.topK(scored, 5, col("cos_r"))
    }
    val exact = {
      val scored = Similarity.scoreAll(e.filter(col("vec_id") < 10), e, "vec_id", "embedding")
        .withColumn("cos_r", r4(col("cos"))).drop("cos")
      Similarity.topK(scored, 5, col("cos_r"))
        .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(true))
    }
    served.join(exact, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("neighbor_id"), col("cos_r"), col("rnk"),
        coalesce(col("hit"), lit(false)).as("exact_hit"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q180_mmr_topk" -> q180 _,
    "q186_pca_top" -> q186 _,
    "q187_abtt_topk" -> q187 _,
    "q188_pca_two" -> q188 _,
    "q106_bpe_train" -> q106 _,
    "q107_bpe_token_counts" -> q107 _,
    "q38_embed_neardup" -> q38 _,
    "q39_embed_neardup_lsh" -> q39 _,
    "q130_semantic_dedup" -> q130 _,
    "q137_semdedup_growk" -> q137 _,
    "q138_ivf_growk" -> q138 _,
    "q36_chunks" -> q36 _,
    "q37_ivf_topk" -> q37 _,
    "q45_ivf_nprobe2" -> q45 _,
    "q46_cdc_chunks" -> q46 _,
    "q47_shingle_minhash" -> q47 _,
    "q48_dedup_clusters" -> q48 _,
    "q33_split" -> q33 _,
    "q34_quota_sample" -> q34 _,
    "q35_percentiles" -> q35 _,
    "q20_dedup_hash" -> q20 _,
    "q21_jaccard_pairs" -> q21 _,
    "q22_minhash_pairs" -> q22 _,
    "q148_containment" -> q148 _,
    "q149_leakage_matrix" -> q149 _,
    "q23_simhash_pairs" -> q23 _,
    "q24_text_quality" -> q24 _,
    "q25_lang_id" -> q25 _,
    "q26_token_count" -> q26 _,
    "q27_fingerprint" -> q27 _,
    "q28_cosine_topk" -> q28 _,
    "q144_sq8_topk" -> q144 _,
    "q162_bq_hamming_topk" -> q162 _,
    "q164_mrl_prefix_topk" -> q164 _,
    "q166_source_centroids" -> q166 _,
    "q160_prototype_prune" -> q160 _,
    "q124_hard_negatives" -> q124 _,
    "q29_ann_bucketed" -> q29 _,
    "q30_multimodal_meta" -> q30 _,
    "q101_frame_sample" -> q101 _,
    "q31_multimodal_decode" -> q31 _,
    "q32_rolling_fp" -> q32 _,
    "q103_media_headers" -> q103 _,
    "q171_mp4_headers" -> q171 _,
    "q206_flac_headers" -> q206 _,
    "q207_mp3_headers" -> q207 _,
    "q104_pq_topk" -> q104 _,
    "q118_ivfpq_topk" -> q118 _
  )

  /** Shared WITH-prefix replaying the growing-k Lloyd blocking
    * (q137/q138): seed assignment vec_id % ceil(n/100), then two
    * rounds of per-dim-mean centroids + 1e-4-rounded-cosine
    * reassignment (min-bucket tiebreak). Ends at `a2 (vec_id, v,
    * bucket)` — the final partition. MATERIALIZED: each round is
    * referenced several times. */
  private def growKLloydCtes: String =
    """WITH e AS MATERIALIZED (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |), kk AS (
      |  SELECT greatest(ceil(count(*) / 100.0)::BIGINT, 1) AS k FROM e
      |), a0 AS MATERIALIZED (
      |  SELECT vec_id, v, vec_id % (SELECT k FROM kk) AS bucket FROM e
      |), x1 AS (
      |  SELECT bucket, u.i AS dim, avg(w.v[u.i]) AS m
      |  FROM a0 w, LATERAL (SELECT unnest(generate_series(1, len(w.v))) AS i) u
      |  GROUP BY 1, 2
      |), c1 AS MATERIALIZED (
      |  SELECT bucket, list(m ORDER BY dim) AS centroid FROM x1 GROUP BY 1
      |), s1 AS (
      |  SELECT e.vec_id, e.v, c1.bucket,
      |    floor((list_dot_product(e.v, c1.centroid)
      |      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c1.centroid, c1.centroid))))*10000 + 0.5)/10000 AS simr
      |  FROM e CROSS JOIN c1
      |), a1 AS MATERIALIZED (
      |  SELECT vec_id, v, bucket FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY simr DESC, bucket) AS rn FROM s1)
      |  WHERE rn = 1
      |), x2 AS (
      |  SELECT bucket, u.i AS dim, avg(w.v[u.i]) AS m
      |  FROM a1 w, LATERAL (SELECT unnest(generate_series(1, len(w.v))) AS i) u
      |  GROUP BY 1, 2
      |), c2 AS MATERIALIZED (
      |  SELECT bucket, list(m ORDER BY dim) AS centroid FROM x2 GROUP BY 1
      |), s2 AS (
      |  SELECT e.vec_id, e.v, c2.bucket,
      |    floor((list_dot_product(e.v, c2.centroid)
      |      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c2.centroid, c2.centroid))))*10000 + 0.5)/10000 AS simr
      |  FROM e CROSS JOIN c2
      |), a2 AS MATERIALIZED (
      |  SELECT vec_id, v, bucket FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY simr DESC, bucket) AS rn FROM s2)
      |  WHERE rn = 1
      |)""".stripMargin

  /** q180 oracle: q28's shortlist construction, the candidate-pair
    * cosine table, then the four greedy MMR steps unrolled as CTE
    * blocks (each: selected-so-far union, per-candidate max
    * similarity, mmr combine, deterministic argmax). Generated so the
    * four steps stay textually identical. */
  private def mmrOracleSql: String = {
    val steps = (2 to 5).map { k =>
      val selPrev = (1 until k).map(i => s"SELECT query_id, neighbor_id FROM s$i")
        .mkString(" UNION ALL ")
      s""", sel${k - 1} AS ($selPrev
         |), m$k AS (
         |  SELECT p.query_id, p.a_id, max(p.sim_r) AS max_sim
         |  FROM p JOIN sel${k - 1} x ON p.query_id = x.query_id AND p.b_id = x.neighbor_id
         |  GROUP BY 1, 2
         |), t$k AS (
         |  SELECT sl.query_id, sl.neighbor_id, sl.rel_r,
         |    0.5 * sl.rel_r - 0.5 * m$k.max_sim AS mmr
         |  FROM sl JOIN m$k ON sl.query_id = m$k.query_id AND sl.neighbor_id = m$k.a_id
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} y
         |    WHERE y.query_id = sl.query_id AND y.neighbor_id = sl.neighbor_id)
         |), s$k AS (
         |  SELECT query_id, neighbor_id, rel_r, $k AS pick, mmr AS mmr_r FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY mmr DESC, neighbor_id) AS rn
         |    FROM t$k) WHERE rn = 1
         |)""".stripMargin
    }.mkString
    val out = (1 to 5).map(i => s"SELECT query_id, pick, neighbor_id, rel_r, mmr_r FROM s$i")
      .mkString(" UNION ALL ")
    s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
       |s AS (
       |  SELECT query_id, neighbor_id,
       |    floor(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))*10000 + 0.5)/10000 AS rel_r
       |  FROM c, q WHERE query_id <> neighbor_id
       |), sl AS MATERIALIZED (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel_r DESC, neighbor_id) AS rnk
       |    FROM s) WHERE rnk <= 20
       |), p AS MATERIALIZED (
       |  SELECT a.query_id, a.neighbor_id AS a_id, b.neighbor_id AS b_id,
       |    floor(list_dot_product(av.cv, bv.cv)
       |      / (sqrt(list_dot_product(av.cv, av.cv)) * sqrt(list_dot_product(bv.cv, bv.cv)))*10000 + 0.5)/10000 AS sim_r
       |  FROM sl a
       |  JOIN sl b ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
       |  JOIN c av ON av.neighbor_id = a.neighbor_id
       |  JOIN c bv ON bv.neighbor_id = b.neighbor_id
       |), s1 AS (
       |  SELECT query_id, neighbor_id, rel_r, 1 AS pick, NULL::DOUBLE AS mmr_r FROM sl WHERE rnk = 1
       |)$steps
       |$out""".stripMargin
  }

  /** q186 oracle: the exact-integer scatter matrix via range-indexed
    * sums, then 10 power-iteration CTE blocks over ORDER BY-built
    * lists — every dot is list_dot_product (the q28-pinned sequential
    * kernel) and every iterate snaps to the 1e-6 grid, replaying the
    * Spark driver kernel step for step. */
  /** Shared WITH-prefix: the exact-integer scatter matrix and the 10
    * power-iteration blocks, ending at `v10 (v)` — the snapped top
    * component. Used by q186 (loadings/eigenvalue) and q187 (ABTT). */
  /** The 10 snapped power-iteration CTE blocks over `rowsCte`,
    * reading v$tag0 and ending at v${tag}10. */
  private def powerIterBlocks(tag: String, rowsCte: String): String =
    (1 to 10).map { k =>
      s""", w$tag$k AS (
         |  SELECT i, list_dot_product(row, (SELECT v FROM v$tag${k - 1})) AS w FROM $rowsCte
         |), wl$tag$k AS (
         |  SELECT list(w ORDER BY i) AS wl FROM w$tag$k
         |), v$tag$k AS (
         |  SELECT list_transform(wl, x -> floor(x / sqrt(list_dot_product(wl, wl)) * 1e6 + 0.5)/1e6) AS v
         |  FROM wl$tag$k
         |)""".stripMargin
    }.mkString

  private def pcaCtes: String = {
    val iters = powerIterBlocks("", "mrows")
    s"""WITH e AS MATERIALIZED (
       |  SELECT list_transform(embedding::DOUBLE[], x -> floor(x*1e4 + 0.5)::BIGINT) AS vf
       |  FROM embeddings
       |), cnt AS (SELECT count(*)::BIGINT AS n FROM e),
       |idx AS (SELECT i::INTEGER AS i FROM range(64) t(i)),
       |idxl AS (SELECT list(i ORDER BY i) AS l FROM idx),
       |sx AS MATERIALIZED (
       |  SELECT ai.i AS i, sum(vf[ai.i + 1])::HUGEINT AS sx
       |  FROM e, idx ai GROUP BY 1
       |), pxy AS MATERIALIZED (
       |  SELECT ai.i AS i, aj.i AS j, sum(vf[ai.i + 1] * vf[aj.i + 1])::HUGEINT AS sxy
       |  FROM e, idx ai, idx aj GROUP BY 1, 2
       |), mm AS (
       |  SELECT p.i, p.j,
       |    ((SELECT n FROM cnt)::HUGEINT * p.sxy - si.sx * sj.sx)::DOUBLE AS mij
       |  FROM pxy p JOIN sx si ON p.i = si.i JOIN sx sj ON p.j = sj.i
       |), mrows AS MATERIALIZED (
       |  SELECT i, list(mij ORDER BY j) AS row FROM mm GROUP BY i
       |), v0 AS (
       |  SELECT (SELECT list(1.0::DOUBLE) FROM range(64)) AS v
       |)$iters""".stripMargin
  }

  private def pcaOracleSql: String =
    pcaCtes +
      """, mvf AS (
        |  SELECT i, list_dot_product(row, (SELECT v FROM v10)) AS mv FROM mrows
        |), ray AS (
        |  SELECT list_dot_product((SELECT v FROM v10), (SELECT list(mv ORDER BY i) FROM mvf)) AS r,
        |    list_dot_product((SELECT v FROM v10), (SELECT v FROM v10)) AS vv
        |)
        |SELECT sx.i AS dim,
        |  floor(sx.sx::DOUBLE / (SELECT n FROM cnt)::DOUBLE / 1e4 * 10000 + 0.5)/10000 AS mean_r,
        |  floor((SELECT v FROM v10)[sx.i + 1] * 10000 + 0.5)/10000 AS loading_r,
        |  floor((SELECT r FROM ray) / (SELECT vv FROM ray)
        |    / ((SELECT n FROM cnt)::DOUBLE * (SELECT n FROM cnt)::DOUBLE) / 1e8 * 10000 + 0.5)/10000 AS eigval_r
        |FROM sx""".stripMargin

  /** q188 oracle: the pcaCtes prefix, the first component's Rayleigh
    * eigenvalue, Hotelling deflation (M − λ·v·vᵀ as per-row list
    * transforms), a second run of the same iteration blocks, and the
    * exact-diagonal trace for variance shares. */
  private def pca2OracleSql: String =
    pcaCtes +
      """, mvf AS (
        |  SELECT i, list_dot_product(row, (SELECT v FROM v10)) AS mv FROM mrows
        |), lamc AS (
        |  SELECT list_dot_product((SELECT v FROM v10), (SELECT list(mv ORDER BY i) FROM mvf))
        |       / list_dot_product((SELECT v FROM v10), (SELECT v FROM v10)) AS lam
        |), m2rows AS MATERIALIZED (
        |  SELECT mr.i,
        |    list_transform(ii.il, j -> mr.row[j + 1] - lc.lam * vv10.vl[mr.i + 1] * vv10.vl[j + 1]) AS row
        |  FROM mrows mr, (SELECT l AS il FROM idxl) ii,
        |       (SELECT lam FROM lamc) lc, (SELECT v AS vl FROM v10) vv10
        |), vb0 AS (
        |  SELECT (SELECT list(1.0::DOUBLE) FROM range(64)) AS v
        |)""".stripMargin +
      powerIterBlocks("b", "m2rows") +
      """, mvf2 AS (
        |  SELECT i, list_dot_product(row, (SELECT v FROM vb10)) AS mv FROM m2rows
        |), lam2c AS (
        |  SELECT list_dot_product((SELECT v FROM vb10), (SELECT list(mv ORDER BY i) FROM mvf2))
        |       / list_dot_product((SELECT v FROM vb10), (SELECT v FROM vb10)) AS lam
        |), trc AS (
        |  SELECT list_dot_product((SELECT list(mij ORDER BY i) FROM mm WHERE i = j),
        |    (SELECT list(1.0::DOUBLE) FROM range(64))) AS t
        |)
        |SELECT 1 AS component, ii.i AS dim,
        |  floor(vv10.vl[ii.i + 1] * 10000 + 0.5)/10000 AS loading_r,
        |  floor(lc.lam / ((SELECT n FROM cnt)::DOUBLE * (SELECT n FROM cnt)::DOUBLE) / 1e8 * 10000 + 0.5)/10000 AS eigval_r,
        |  floor(lc.lam / tc.t * 10000 + 0.5)/10000 AS var_share_r
        |FROM idx ii, (SELECT v AS vl FROM v10) vv10, (SELECT lam FROM lamc) lc, (SELECT t FROM trc) tc
        |UNION ALL
        |SELECT 2, ii.i,
        |  floor(vb.vl[ii.i + 1] * 10000 + 0.5)/10000,
        |  floor(l2.lam / ((SELECT n FROM cnt)::DOUBLE * (SELECT n FROM cnt)::DOUBLE) / 1e8 * 10000 + 0.5)/10000,
        |  floor(l2.lam / tc.t * 10000 + 0.5)/10000
        |FROM idx ii, (SELECT v AS vl FROM vb10) vb, (SELECT lam FROM lam2c) l2, (SELECT t FROM trc) tc""".stripMargin

  /** q187 oracle: the pcaCtes prefix, then centering, projection
    * removal, and the q28 serving shape over the post-processed
    * vectors with the raw-top-5 audit join. */
  private def abttOracleSql: String =
    pcaCtes +
      """, meanl AS (
        |  SELECT list(sx::DOUBLE / (SELECT n FROM cnt)::DOUBLE / 1e4 ORDER BY i) AS m FROM sx
        |), raw AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
        |), cent AS (
        |  SELECT vec_id,
        |    list_transform(ii.il, i -> x[i + 1] - mm2.ml[i + 1]) AS cx
        |  FROM raw, (SELECT l AS il FROM idxl) ii, (SELECT m AS ml FROM meanl) mm2
        |), post AS (
        |  SELECT vec_id, xp FROM (
        |    SELECT vec_id,
        |      list_transform(ii.il, i ->
        |        cx[i + 1] - list_dot_product(cx, vv10.vl) * vv10.vl[i + 1]) AS xp
        |    FROM cent, (SELECT l AS il FROM idxl) ii, (SELECT v AS vl FROM v10) vv10)
        |  WHERE list_dot_product(xp, xp) > 0
        |), q2 AS (SELECT vec_id AS query_id, xp AS qv FROM post WHERE vec_id < 10),
        |c2 AS (SELECT vec_id AS neighbor_id, xp AS cv FROM post),
        |s2 AS (
        |  SELECT query_id, neighbor_id,
        |    floor(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))*10000 + 0.5)/10000 AS cos_r
        |  FROM c2, q2 WHERE query_id <> neighbor_id
        |), r2 AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_r DESC, neighbor_id) AS rnk FROM s2
        |), qr AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
        |cr AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
        |sr AS (
        |  SELECT query_id, neighbor_id,
        |    floor(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))*10000 + 0.5)/10000 AS cos_raw
        |  FROM cr, qr WHERE query_id <> neighbor_id
        |), rr AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rnk FROM sr
        |), ex AS (SELECT query_id, neighbor_id FROM rr WHERE rnk <= 5)
        |SELECT r2.query_id, r2.neighbor_id, r2.cos_r, r2.rnk,
        |  (ex.neighbor_id IS NOT NULL) AS exact_hit
        |FROM r2 LEFT JOIN ex ON r2.query_id = ex.query_id AND r2.neighbor_id = ex.neighbor_id
        |WHERE r2.rnk <= 5""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q186_pca_top" -> pcaOracleSql,
    "q187_abtt_topk" -> abttOracleSql,
    "q188_pca_two" -> pca2OracleSql,
    "q180_mmr_topk" -> mmrOracleSql,
    "q106_bpe_train" -> bpeOracleSql(12),
    "q107_bpe_token_counts" -> bpeCountOracleSql(12),
    "q39_embed_neardup_lsh" ->
      """WITH t AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT id, v, sqrt(list_dot_product(v, v)) AS nn FROM t),
        |grid AS (
        |  SELECT tb, i FROM (SELECT unnest(range(0, 4))::INT AS tb)
        |  CROSS JOIN (SELECT unnest(range(0, 8))::INT AS i)
        |), planes AS (
        |  SELECT tb, i,
        |    list_transform(range(0, 64), j -> CASE
        |      WHEN ((tb * 97 + i * 1299721 + j * 15485863) % 2147483647) % 2 = 0
        |      THEN 1.0 ELSE -1.0 END) AS p
        |  FROM grid
        |), bits AS (
        |  SELECT n.id, pl.tb, pl.i,
        |    CASE WHEN list_dot_product(n.v, pl.p) > 0 THEN (1::BIGINT << pl.i) ELSE 0 END AS bit
        |  FROM n CROSS JOIN planes pl
        |), bkt AS (
        |  SELECT id, tb, sum(bit)::BIGINT AS bucket FROM bits GROUP BY 1, 2
        |), cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM bkt a JOIN bkt b ON a.tb = b.tb AND a.bucket = b.bucket AND a.id < b.id
        |)
        |SELECT c.id_a, c.id_b,
        |  floor((list_dot_product(a.v, b.v)/(a.nn*b.nn))*10000 + 0.5)/10000 AS cos
        |FROM cand c JOIN n a ON c.id_a = a.id JOIN n b ON c.id_b = b.id
        |WHERE list_dot_product(a.v, b.v)/(a.nn*b.nn) >= 0.3""".stripMargin,
    "q138_ivf_growk" ->
      s"""$growKLloydCtes, c3x AS (
        |  SELECT bucket, u.i AS dim, avg(w.v[u.i]) AS m
        |  FROM a2 w, LATERAL (SELECT unnest(generate_series(1, len(w.v))) AS i) u
        |  GROUP BY 1, 2
        |), cent AS (SELECT bucket, list(m ORDER BY dim) AS centroid FROM c3x GROUP BY 1),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |asn AS (
        |  SELECT query_id, bucket, qv,
        |    row_number() OVER (PARTITION BY query_id ORDER BY
        |      floor((list_dot_product(qv, centroid)/(sqrt(list_dot_product(qv, qv))*sqrt(list_dot_product(centroid, centroid))))*10000 + 0.5)/10000 DESC,
        |      bucket) AS rn
        |  FROM q, cent
        |), sc AS (
        |  SELECT a.query_id, a.bucket, m.vec_id AS neighbor_id,
        |    floor((list_dot_product(a.qv, m.v)/(sqrt(list_dot_product(a.qv, a.qv))*sqrt(list_dot_product(m.v, m.v))))*10000 + 0.5)/10000 AS cos_r
        |  FROM asn a JOIN a2 m ON m.bucket = a.bucket AND m.vec_id <> a.query_id
        |  WHERE a.rn <= 2
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_r DESC, neighbor_id) AS rnk FROM sc
        |)
        |SELECT query_id, bucket, neighbor_id, rnk::BIGINT AS rnk, cos_r FROM r WHERE rnk <= 5""".stripMargin,
    "q137_semdedup_growk" ->
      s"""$growKLloydCtes, m2 AS (
        |  SELECT vec_id, bucket, v, sqrt(list_dot_product(v, v)) AS nn FROM a2
        |), p AS (
        |  SELECT pa.bucket, pa.vec_id AS i, pb.vec_id AS j,
        |    list_dot_product(pa.v, pb.v)/(pa.nn*pb.nn) AS cos
        |  FROM m2 pa JOIN m2 pb ON pa.bucket = pb.bucket AND pa.vec_id < pb.vec_id
        |)
        |SELECT bucket, j AS vec_id, min(i) AS dup_of,
        |  floor(max(cos)*10000 + 0.5)/10000 AS max_cos,
        |  count(*)::BIGINT AS n_dups
        |FROM p WHERE cos >= 0.25
        |GROUP BY 1, 2""".stripMargin,
    "q130_semantic_dedup" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |), x AS (
        |  SELECT label::BIGINT AS bucket, u.i AS dim, avg(w.v[u.i]) AS m
        |  FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings) w,
        |       LATERAL (SELECT unnest(generate_series(1, len(w.v))) AS i) u
        |  GROUP BY 1, 2
        |), c AS (
        |  SELECT bucket, list(m ORDER BY dim) AS centroid FROM x GROUP BY 1
        |), s AS (
        |  SELECT e.vec_id, c.bucket,
        |    floor((list_dot_product(e.v, c.centroid)
        |      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.centroid, c.centroid))))*10000 + 0.5)/10000 AS simr
        |  FROM e CROSS JOIN c
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY simr DESC, bucket) AS rn FROM s
        |), asg AS (
        |  SELECT vec_id, bucket FROM r WHERE rn = 1
        |), m2 AS (
        |  SELECT asg.vec_id, asg.bucket, e.v, sqrt(list_dot_product(e.v, e.v)) AS nn
        |  FROM asg JOIN e ON asg.vec_id = e.vec_id
        |), p AS (
        |  SELECT x2.bucket, x2.vec_id AS i, y2.vec_id AS j,
        |    list_dot_product(x2.v, y2.v)/(x2.nn*y2.nn) AS cos
        |  FROM m2 x2 JOIN m2 y2 ON x2.bucket = y2.bucket AND x2.vec_id < y2.vec_id
        |)
        |SELECT bucket, j AS vec_id, min(i) AS dup_of,
        |  floor(max(cos)*10000 + 0.5)/10000 AS max_cos,
        |  count(*)::BIGINT AS n_dups
        |FROM p WHERE cos >= 0.25
        |GROUP BY 1, 2""".stripMargin,
    "q38_embed_neardup" ->
      """WITH t AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT id, v, sqrt(list_dot_product(v, v)) AS nn FROM t)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  floor((list_dot_product(a.v, b.v)/(a.nn*b.nn))*10000 + 0.5)/10000 AS cos
        |FROM n a JOIN n b ON a.id < b.id
        |WHERE list_dot_product(a.v, b.v)/(a.nn*b.nn) >= 0.3""".stripMargin,
    "q36_chunks" ->
      """SELECT doc_id, g.k AS chunk_id,
        |  substring(text, (g.k*200 + 1)::INT, 256) AS chunk,
        |  length(substring(text, (g.k*200 + 1)::INT, 256))::BIGINT AS chunk_chars
        |FROM documents, generate_series(0, 1000) g(k)
        |WHERE g.k <= greatest(ceil((n_chars - 56)::DOUBLE / 200)::BIGINT - 1, 0)""".stripMargin,
    "q33_split" ->
      """SELECT doc_id,
        |  CASE WHEN (((doc_id % 2147483648) * 2654435761) % 4294967296) % 100 < 80 THEN 'train'
        |       WHEN (((doc_id % 2147483648) * 2654435761) % 4294967296) % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    "q34_quota_sample" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 5""".stripMargin,
    "q35_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS q25,
        |  quantile_cont(l_quantity, 0.5) AS q50,
        |  quantile_cont(l_quantity, 0.75) AS q75,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q20_dedup_hash" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_dupes
        |FROM documents GROUP BY 1""".stripMargin,
    "q48_dedup_clusters" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |         ELSE list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END) AS toks
        |  FROM d
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
        |      / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8
        |), e AS (
        |  SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b AS src, id_a AS dst FROM p
        |), lbl(id, l) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT e.dst, lbl.l FROM lbl JOIN e ON lbl.id = e.src
        |), cc AS (
        |  SELECT id, min(l) AS cluster_id FROM lbl GROUP BY id
        |), assigned AS (
        |  SELECT doc_id, coalesce(cc.cluster_id, doc_id) AS cluster_id
        |  FROM documents LEFT JOIN cc ON doc_id = cc.id
        |), sizes AS (
        |  SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM assigned GROUP BY 1
        |)
        |SELECT a.doc_id, a.cluster_id, s.cluster_size, a.doc_id = a.cluster_id AS is_canonical
        |FROM assigned a JOIN sizes s USING (cluster_id)""".stripMargin,
    "q46_cdc_chunks" ->
      """WITH byt AS (
        |  SELECT doc_id, text, g.i AS p, bytes[g.i] AS byte, len(bytes) AS n
        |  FROM (SELECT doc_id, text,
        |          list_transform(regexp_extract_all(hex(encode(text)), '..'),
        |            q -> (strpos('123456789ABCDEF', q[1])*16 + strpos('123456789ABCDEF', q[2]))) AS bytes
        |        FROM documents),
        |       generate_series(1, 2000) g(i)
        |  WHERE g.i <= len(bytes)
        |), pw(k, f) AS (
        |  VALUES (0, 1::BIGINT), (1, 257::BIGINT), (2, 66049::BIGINT), (3, 16974593::BIGINT),
        |         (4, 362470373::BIGINT), (5, 154885210::BIGINT), (6, 805498697::BIGINT),
        |         (7, 13163680::BIGINT), (8, 383065739::BIGINT), (9, 447894237::BIGINT),
        |         (10, 108818104::BIGINT), (11, 966252539::BIGINT), (12, 326900787::BIGINT),
        |         (13, 13501671::BIGINT), (14, 469929426::BIGINT), (15, 771861642::BIGINT)
        |), hw AS (
        |  SELECT a.doc_id, a.p,
        |    (sum(w.byte * pw.f) % 1000000007) AS h
        |  FROM byt a JOIN byt w ON w.doc_id = a.doc_id AND w.p BETWEEN a.p - 15 AND a.p
        |  JOIN pw ON pw.k = a.p - w.p
        |  WHERE a.p >= 16
        |  GROUP BY 1, 2
        |), flags AS (
        |  SELECT b.doc_id, b.p, b.n, b.byte,
        |    (b.p = b.n OR NOT (lead(b.byte) OVER (PARTITION BY b.doc_id ORDER BY b.p) BETWEEN 128 AND 191)) AS snap,
        |    (b.p >= 16 AND hw.h % 64 = 0) AS cut
        |  FROM byt b LEFT JOIN hw ON hw.doc_id = b.doc_id AND hw.p = b.p
        |), pos AS (
        |  SELECT doc_id, p, n,
        |    sum(CASE WHEN byte BETWEEN 128 AND 191 THEN 0 ELSE 1 END)
        |      OVER (PARTITION BY doc_id ORDER BY p) AS cpos,
        |    min(CASE WHEN snap AND cut THEN p END)
        |      OVER (PARTITION BY doc_id ORDER BY p ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nc,
        |    min(CASE WHEN snap THEN p END)
        |      OVER (PARTITION BY doc_id ORDER BY p ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ns
        |  FROM flags
        |), dn AS (
        |  SELECT DISTINCT doc_id, n FROM pos
        |), starts AS (
        |  WITH RECURSIVE st(doc_id, cid, s) AS (
        |    SELECT doc_id, 0, 1 FROM dn WHERE n >= 1
        |    UNION ALL
        |    SELECT doc_id, cid + 1, e + 1 FROM (
        |      SELECT st.doc_id, st.cid,
        |        CASE WHEN a.nc IS NOT NULL AND a.nc <= st.s + 254 THEN a.nc
        |             WHEN b2.ns IS NOT NULL THEN b2.ns END AS e,
        |        dn.n
        |      FROM st
        |      JOIN dn ON dn.doc_id = st.doc_id
        |      LEFT JOIN pos a ON a.doc_id = st.doc_id AND a.p = st.s + 31
        |      LEFT JOIN pos b2 ON b2.doc_id = st.doc_id AND b2.p = st.s + 255
        |    ) WHERE e IS NOT NULL AND e < n
        |  )
        |  SELECT * FROM st
        |)
        |SELECT s.doc_id, s.cid::BIGINT AS chunk_id,
        |  substring(d.text, ps.cpos::INT, (pe.cpos - ps.cpos + 1)::INT) AS chunk,
        |  (pe.cpos - ps.cpos + 1)::BIGINT AS chunk_chars
        |FROM starts s
        |JOIN documents d ON d.doc_id = s.doc_id
        |JOIN dn ON dn.doc_id = s.doc_id
        |LEFT JOIN pos a ON a.doc_id = s.doc_id AND a.p = s.s + 31
        |LEFT JOIN pos b2 ON b2.doc_id = s.doc_id AND b2.p = s.s + 255
        |JOIN pos ps ON ps.doc_id = s.doc_id AND ps.p = s.s
        |JOIN pos pe ON pe.doc_id = s.doc_id AND pe.p = coalesce(
        |  CASE WHEN a.nc IS NOT NULL AND a.nc <= s.s + 254 THEN a.nc
        |       WHEN b2.ns IS NOT NULL THEN b2.ns END, dn.n)""".stripMargin,
    "q47_shingle_minhash" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |  FROM d
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh))::DOUBLE
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |)
        |SELECT id_a, id_b, floor(jaccard*10000 + 0.5)/10000 AS jaccard
        |FROM p WHERE jaccard >= 0.8""".stripMargin,
    "q148_containment" ->
      """WITH d AS (
        |  SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS toks
        |  FROM documents
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.toks, b.toks))::BIGINT AS i,
        |    len(a.toks)::BIGINT AS n_a, len(b.toks)::BIGINT AS n_b
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id
        |), j AS (
        |  SELECT id_a, id_b, i::DOUBLE / (n_a + n_b - i) AS jaccard, n_a, n_b, i FROM p
        |)
        |SELECT id_a, id_b, floor(jaccard*10000 + 0.5)/10000 AS jaccard, n_a, n_b,
        |  floor(i::DOUBLE / n_a * 10000 + 0.5)/10000 AS contain_ab,
        |  floor(i::DOUBLE / n_b * 10000 + 0.5)/10000 AS contain_ba
        |FROM j WHERE jaccard >= 0.8""".stripMargin,
    "q149_leakage_matrix" ->
      """WITH d AS (
        |  SELECT doc_id, source, list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS toks
        |  FROM documents
        |), p AS (
        |  SELECT least(a.source, b.source) AS source_a,
        |         greatest(a.source, b.source) AS source_b
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
        |      / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8
        |)
        |SELECT source_a, source_b, count(*)::BIGINT AS n_pairs FROM p GROUP BY 1, 2""".stripMargin,
    "q22_minhash_pairs" ->
      """WITH d AS (
        |  SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS toks
        |  FROM documents
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.toks, b.toks))::DOUBLE
        |      / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jaccard
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id
        |)
        |SELECT id_a, id_b, floor(jaccard*10000 + 0.5)/10000 AS jaccard
        |FROM p WHERE jaccard >= 0.8""".stripMargin,
    "q21_jaccard_pairs" ->
      """WITH d AS (
        |  SELECT doc_id, lang, list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS toks
        |  FROM documents WHERE doc_id % 5 = 0
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.toks, b.toks))::DOUBLE
        |      / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jaccard
        |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |)
        |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.8""".stripMargin,
    "q24_text_quality" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
        |    regexp_extract_all(text, '\S+') AS ws,
        |    regexp_extract_all(text, '[.,;:!?''"()\[\]{}]') AS punct
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    length(text)::BIGINT AS n_chars_m,
        |    len(ws)::BIGINT AS n_ws_tokens,
        |    len(toks)::BIGINT AS n_word_tokens,
        |    list_sum(list_transform(toks, x -> strlen(x)))::DOUBLE / nullif(len(toks), 0) AS atl,
        |    len(list_filter(toks, x -> list_contains(['the','a','an','of','to','and','in','is','for','on','with','that','as','at','by'], x)))::DOUBLE
        |      / nullif(len(toks), 0) AS stop_ratio,
        |    len(punct)::DOUBLE / nullif(length(text), 0) AS punct_ratio
        |  FROM t
        |)
        |SELECT doc_id, n_chars_m, n_ws_tokens, n_word_tokens,
        |  floor(atl*10000 + 0.5)/10000 AS avg_token_len,
        |  floor(punct_ratio*10000 + 0.5)/10000 AS punct_ratio,
        |  floor(stop_ratio*10000 + 0.5)/10000 AS stop_ratio,
        |  floor(ln(1 + n_word_tokens) * (1 - punct_ratio) * (1 - stop_ratio)*10000 + 0.5)/10000 AS quality
        |FROM m""".stripMargin,
    "q25_lang_id" ->
      """WITH t AS (
        |  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
        |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS zh
        |  FROM documents
        |), h AS (
        |  SELECT doc_id, lang, zh,
        |    len(list_filter(toks, x -> list_contains(['the','a','is','and','of'], x))) AS en,
        |    len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS de,
        |    len(list_filter(toks, x -> list_contains(['le','la','les','et','est'], x))) AS fr,
        |    len(list_filter(toks, x -> list_contains(['el','los','las','y','es'], x))) AS es
        |  FROM t
        |), p AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN zh > 0 THEN 'zh'
        |         WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
        |         WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
        |         WHEN fr >= es AND fr > 0 THEN 'fr'
        |         WHEN es > 0 THEN 'es'
        |         ELSE 'und' END AS pred_lang
        |  FROM h
        |)
        |SELECT doc_id, pred_lang, lang, pred_lang = lang AS is_match FROM p""".stripMargin,
    "q26_token_count" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '\S+'))::BIGINT AS n_ws,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]'))::BIGINT AS n_bpeish,
        |  n_chars // 4 AS n_chars_div4
        |FROM documents""".stripMargin,
    "q27_fingerprint" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash,
        |  min(doc_id) AS keep_id, count(*) AS n_dupes
        |FROM documents GROUP BY 1""".stripMargin,
    "q124_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
        |s AS (
        |  SELECT query_id, neighbor_id,
        |    floor(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))*10000 + 0.5)/10000 AS cos_r
        |  FROM c, q WHERE query_id <> neighbor_id
        |), f AS (
        |  SELECT * FROM s WHERE cos_r < 0.95::DOUBLE
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_r DESC, neighbor_id) AS rnk FROM f
        |)
        |SELECT query_id, neighbor_id, cos_r, rnk FROM r WHERE rnk <= 5""".stripMargin,
    "q206_flac_headers" ->
      """SELECT doc_id AS media_id, 'flac' AS format,
        |  (doc_id % 2 + 1)::BIGINT AS channels,
        |  (doc_id % 4 * 8000 + 16000)::BIGINT AS sample_rate,
        |  (doc_id % 3 * 4 + 16)::BIGINT AS bits_per_sample,
        |  (doc_id % 100000 + 1)::BIGINT AS n_frames,
        |  floor((doc_id % 100000 + 1)::DOUBLE / (doc_id % 4 * 8000 + 16000)::DOUBLE
        |    * 10000 + 0.5)/10000 AS duration_s
        |FROM documents""".stripMargin,
    "q207_mp3_headers" ->
      """SELECT doc_id AS media_id, 'mp3' AS format,
        |  (CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 2 END)::BIGINT AS channels,
        |  (CASE WHEN doc_id % 2 = 1
        |     THEN ([44100, 48000, 32000])[(doc_id % 3)::INT + 1]
        |     ELSE ([22050, 24000, 16000])[(doc_id % 3)::INT + 1]
        |   END)::BIGINT AS sample_rate,
        |  (CASE WHEN doc_id % 2 = 1
        |     THEN ([32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320])[(doc_id % 14)::INT + 1]
        |     ELSE ([8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160])[(doc_id % 14)::INT + 1]
        |   END)::BIGINT AS bitrate_kbps
        |FROM documents""".stripMargin,
    "q171_mp4_headers" ->
      """SELECT doc_id AS media_id, 'mp4' AS format,
        |  (doc_id % 640 + 16)::BIGINT AS width,
        |  (doc_id % 360 + 16)::BIGINT AS height,
        |  (doc_id % 4 * 600 + 600)::BIGINT AS timescale,
        |  (doc_id % 9000 + 1)::BIGINT AS duration_units,
        |  floor((doc_id % 9000 + 1) * 1000.0 / (doc_id % 4 * 600 + 600) * 10000 + 0.5)/10000 AS duration_ms
        |FROM documents""".stripMargin,
    "q166_source_centroids" ->
      """WITH j AS (
        |  SELECT d.source, e.embedding::DOUBLE[] AS v
        |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
        |), x AS (
        |  SELECT source, u.i AS dim,
        |    sum(floor(w.v[u.i] * 1e6 + 0.5)::BIGINT) AS sfp, count(*) AS n
        |  FROM j w, LATERAL (SELECT unnest(generate_series(1, len(w.v))) AS i) u
        |  GROUP BY 1, 2
        |), c AS MATERIALIZED (
        |  SELECT source, list(floor(sfp::DOUBLE / n + 0.5) ORDER BY dim) AS centroid
        |  FROM x GROUP BY 1
        |)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  CASE WHEN sqrt(list_dot_product(a.centroid, a.centroid))
        |          * sqrt(list_dot_product(b.centroid, b.centroid)) > 0 THEN
        |    floor(list_dot_product(a.centroid, b.centroid)
        |      / (sqrt(list_dot_product(a.centroid, a.centroid))
        |       * sqrt(list_dot_product(b.centroid, b.centroid))) * 10000 + 0.5)/10000
        |  END AS cos_r
        |FROM c a JOIN c b ON a.source < b.source""".stripMargin,
    "q164_mrl_prefix_topk" ->
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |), p AS MATERIALIZED (
        |  SELECT vec_id, v[1:16] AS v FROM e
        |), sd AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    floor(list_dot_product(q.v, c.v)
        |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))*10000 + 0.5)/10000 AS cos_r
        |  FROM p c, (SELECT * FROM p WHERE vec_id < 10) q WHERE q.vec_id <> c.vec_id
        |), rq AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_r DESC, neighbor_id) AS rnk FROM sd
        |), topq AS (
        |  SELECT query_id, neighbor_id, cos_r, rnk FROM rq WHERE rnk <= 5
        |), se AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    floor(list_dot_product(q.v, c.v)
        |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))*10000 + 0.5)/10000 AS cos_r
        |  FROM e c, (SELECT * FROM e WHERE vec_id < 10) q WHERE q.vec_id <> c.vec_id
        |), re AS (
        |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY cos_r DESC, neighbor_id) AS rnk FROM se
        |), tope AS (
        |  SELECT query_id, neighbor_id FROM re WHERE rnk <= 5
        |)
        |SELECT t.query_id, t.neighbor_id, t.cos_r, t.rnk,
        |  (te.neighbor_id IS NOT NULL) AS exact_hit
        |FROM topq t LEFT JOIN tope te USING (query_id, neighbor_id)""".stripMargin,
    "q160_prototype_prune" -> (growKLloydCtes +
      """, f AS (
        |  SELECT vec_id, bucket, simr FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY simr DESC, bucket) AS rn FROM s2)
        |  WHERE rn = 1
        |), r AS (
        |  SELECT vec_id, bucket, simr,
        |    row_number() OVER (PARTITION BY bucket ORDER BY simr DESC, vec_id) AS rnk,
        |    count(*) OVER (PARTITION BY bucket) AS cnt
        |  FROM f
        |)
        |SELECT vec_id, bucket::BIGINT AS bucket, simr AS sim_r,
        |  rnk::BIGINT AS rnk, (rnk > cnt // 10) AS kept
        |FROM r""".stripMargin),
    "q162_bq_hamming_topk" ->
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |), b AS MATERIALIZED (
        |  SELECT w.vec_id,
        |    sum(CASE WHEN u.i <= 32 AND w.v[u.i] >= 0 THEN (1::BIGINT << (u.i - 1)) ELSE 0 END)::BIGINT AS lo,
        |    sum(CASE WHEN u.i > 32 AND w.v[u.i] >= 0 THEN (1::BIGINT << (u.i - 33)) ELSE 0 END)::BIGINT AS hi
        |  FROM e w, LATERAL (SELECT unnest(generate_series(1, len(w.v))) AS i) u
        |  GROUP BY 1
        |), sd AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    (bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi)))::BIGINT AS ham
        |  FROM b c, (SELECT * FROM b WHERE vec_id < 10) q
        |  WHERE q.vec_id <> c.vec_id
        |), sl AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ham, neighbor_id) AS srn
        |  FROM sd
        |), short AS (
        |  SELECT query_id, neighbor_id, ham FROM sl WHERE srn <= 50
        |), rr AS (
        |  SELECT s.query_id, s.neighbor_id, s.ham,
        |    floor(list_dot_product(qe.v, ce.v)
        |      / (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ce.v, ce.v)))*10000 + 0.5)/10000 AS cos_r
        |  FROM short s
        |  JOIN e qe ON qe.vec_id = s.query_id
        |  JOIN e ce ON ce.vec_id = s.neighbor_id
        |), rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_r DESC, neighbor_id) AS rnk FROM rr
        |), top5 AS (
        |  SELECT query_id, neighbor_id, ham, cos_r, rnk FROM rk WHERE rnk <= 5
        |), se AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    floor(list_dot_product(q.v, c.v)
        |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))*10000 + 0.5)/10000 AS cos_r
        |  FROM e c, (SELECT * FROM e WHERE vec_id < 10) q WHERE q.vec_id <> c.vec_id
        |), re AS (
        |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY cos_r DESC, neighbor_id) AS rnk FROM se
        |), tope AS (
        |  SELECT query_id, neighbor_id FROM re WHERE rnk <= 5
        |)
        |SELECT t.query_id, t.neighbor_id, t.ham, t.cos_r, t.rnk,
        |  (te.neighbor_id IS NOT NULL) AS exact_hit
        |FROM top5 t LEFT JOIN tope te USING (query_id, neighbor_id)""".stripMargin,
    "q144_sq8_topk" ->
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |), sc AS (
        |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e
        |), dq AS MATERIALIZED (
        |  SELECT vec_id,
        |    CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
        |         ELSE list_transform(v, x -> greatest(-127.0, least(127.0, floor(x / scale + 0.5))) * scale)
        |    END AS v
        |  FROM sc
        |), sd AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    floor(list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))*10000 + 0.5)/10000 AS cos_r
        |  FROM dq c, (SELECT * FROM dq WHERE vec_id < 10) q WHERE q.vec_id <> c.vec_id
        |), rq AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_r DESC, neighbor_id) AS rnk FROM sd
        |), topq AS (
        |  SELECT query_id, neighbor_id, cos_r, rnk FROM rq WHERE rnk <= 5
        |), se AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    floor(list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))*10000 + 0.5)/10000 AS cos_r
        |  FROM e c, (SELECT * FROM e WHERE vec_id < 10) q WHERE q.vec_id <> c.vec_id
        |), re AS (
        |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY cos_r DESC, neighbor_id) AS rnk FROM se
        |), tope AS (
        |  SELECT query_id, neighbor_id FROM re WHERE rnk <= 5
        |)
        |SELECT t.query_id, t.neighbor_id, t.cos_r, t.rnk,
        |  (te.neighbor_id IS NOT NULL) AS exact_hit
        |FROM topq t LEFT JOIN tope te USING (query_id, neighbor_id)""".stripMargin,
    "q28_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
        |s AS (
        |  SELECT query_id, neighbor_id,
        |    floor(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))*10000 + 0.5)/10000 AS cos_r
        |  FROM c, q WHERE query_id <> neighbor_id
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_r DESC, neighbor_id) AS rnk FROM s
        |)
        |SELECT query_id, neighbor_id, cos_r, rnk FROM r WHERE rnk <= 5""".stripMargin,
    "q29_ann_bucketed" ->
      """WITH q AS (SELECT vec_id AS query_id, label AS bucket, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, label, embedding::DOUBLE[] AS cv FROM embeddings),
        |s AS (
        |  SELECT query_id, bucket, neighbor_id,
        |    floor(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))*10000 + 0.5)/10000 AS cos_r
        |  FROM c JOIN q ON c.label = q.bucket WHERE query_id <> neighbor_id
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_r DESC, neighbor_id) AS rnk FROM s
        |)
        |SELECT query_id, bucket, neighbor_id, cos_r, rnk FROM r WHERE rnk <= 5""".stripMargin,
    "q32_rolling_fp" ->
      """WITH rh AS (
        |  SELECT doc_id, regexp_extract_all(hex(encode(text)), '..') AS hx FROM documents
        |)
        |SELECT doc_id,
        |  list_reduce(list_transform(hx, p -> (strpos('123456789ABCDEF', p[1])*16 + strpos('123456789ABCDEF', p[2]))::BIGINT),
        |              (a, x) -> (a*257 + x) % 1000000007)::BIGINT AS rhash
        |FROM rh""".stripMargin,
    "q31_multimodal_decode" ->
      """WITH h AS (
        |  SELECT doc_id AS media_id, 'text/plain' AS kind, strlen(text)::BIGINT AS n_bytes,
        |    regexp_extract_all(hex(encode(text)), '..') AS hx
        |  FROM documents
        |), b AS (
        |  SELECT media_id, kind, n_bytes,
        |    list_transform(hx, p -> (strpos('123456789ABCDEF', p[1])*16 + strpos('123456789ABCDEF', p[2]))::BIGINT) AS bytes
        |  FROM h
        |)
        |SELECT media_id, kind, n_bytes,
        |  list_sum(bytes)::BIGINT AS byte_sum,
        |  list_sum(bytes)::DOUBLE / n_bytes AS byte_mean,
        |  list_reduce(bytes[1:least(4, n_bytes)::INT], (a, x) -> a*256 + x)::BIGINT AS head_word
        |FROM b""".stripMargin,
    "q103_media_headers" ->
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav' END AS format,
        |  (CASE doc_id % 3 WHEN 0 THEN doc_id % 997 + 1 WHEN 1 THEN doc_id % 509 + 1 END)::BIGINT AS width,
        |  (CASE doc_id % 3 WHEN 0 THEN doc_id % 491 + 1 WHEN 1 THEN doc_id % 257 + 1 END)::BIGINT AS height,
        |  (CASE WHEN doc_id % 3 < 2 THEN 8 END)::BIGINT AS bit_depth,
        |  (CASE doc_id % 3 WHEN 0 THEN 4 WHEN 1 THEN 3 ELSE doc_id % 2 + 1 END)::BIGINT AS channels,
        |  (CASE WHEN doc_id % 3 = 2 THEN doc_id % 5 * 1000 + 8000 END)::BIGINT AS sample_rate,
        |  (CASE WHEN doc_id % 3 = 2 THEN 16 END)::BIGINT AS bits_per_sample,
        |  (CASE WHEN doc_id % 3 = 2 THEN doc_id % 1000 + 1 END)::BIGINT AS n_frames,
        |  CASE WHEN doc_id % 3 = 2 THEN floor((doc_id % 1000 + 1) * 1000.0 / (doc_id % 5 * 1000 + 8000) * 10000 + 0.5) / 10000 END AS duration_ms
        |FROM documents""".stripMargin,
    "q118_ivfpq_topk" ->
      // q37's coarse CTEs (cent/probed) + q104's PQ CTEs (sub..codes/dt)
      // + the bucket gate in sc — spliced verbatim from the two proven
      // oracles
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS raw FROM embeddings),
        |n AS (SELECT vec_id, list_transform(raw, x -> x / sqrt(list_dot_product(raw, raw))) AS v FROM e),
        |sub AS (
        |  SELECT vec_id, g.m AS m, n.v[g.m*4+1 : g.m*4+4] AS sv
        |  FROM n, (SELECT unnest(generate_series(0, 15)) AS m) g
        |),
        |gx AS (
        |  SELECT vec_id, m, gj.j AS j, sv[gj.j] AS x
        |  FROM sub, (SELECT unnest(generate_series(1, 4)) AS j) gj
        |),
        |nt AS (
        |  SELECT vec_id, m, j, ntile(4) OVER (PARTITION BY m, j ORDER BY x, vec_id) AS b
        |  FROM gx
        |),
        |cells AS (SELECT vec_id, m, sum((b-1) * power(4, j-1))::BIGINT AS cell FROM nt GROUP BY 1, 2),
        |cb0 AS (
        |  SELECT s.m, c.cell, gj.j, avg(s.sv[gj.j]) AS cj
        |  FROM sub s JOIN cells c ON s.vec_id = c.vec_id AND s.m = c.m,
        |       (SELECT unnest(generate_series(1, 4)) AS j) gj
        |  GROUP BY 1, 2, 3
        |),
        |book0 AS (SELECT m, cell AS code, list(cj ORDER BY j) AS cent FROM cb0 GROUP BY 1, 2),
        |a1 AS (
        |  SELECT s.vec_id, s.m, b.code,
        |    floor((list_dot_product(b.cent, b.cent) - 2*list_dot_product(s.sv, b.cent))*10000 + 0.5)/10000 AS d
        |  FROM sub s JOIN book0 b ON s.m = b.m
        |),
        |r1 AS (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn FROM a1),
        |asn1 AS (SELECT vec_id, m, code AS cell FROM r1 WHERE rn = 1),
        |cb1 AS (
        |  SELECT s.m, a.cell, gj.j, avg(s.sv[gj.j]) AS cj
        |  FROM sub s JOIN asn1 a ON s.vec_id = a.vec_id AND s.m = a.m,
        |       (SELECT unnest(generate_series(1, 4)) AS j) gj
        |  GROUP BY 1, 2, 3
        |),
        |book1 AS (SELECT m, cell AS code, list(cj ORDER BY j) AS cent FROM cb1 GROUP BY 1, 2),
        |a2 AS (
        |  SELECT s.vec_id, s.m, b.code,
        |    floor((list_dot_product(b.cent, b.cent) - 2*list_dot_product(s.sv, b.cent))*10000 + 0.5)/10000 AS d
        |  FROM sub s JOIN book1 b ON s.m = b.m
        |),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn FROM a2),
        |codes AS (SELECT vec_id, m, code FROM r2 WHERE rn = 1),
        |cc AS (
        |  SELECT label AS bucket, g.i AS dim, avg(raw[g.i]) AS m
        |  FROM e, generate_series(1, 64) g(i)
        |  GROUP BY 1, 2
        |), cent AS (SELECT bucket, list(m ORDER BY dim) AS centroid FROM cc GROUP BY 1),
        |qp AS (SELECT vec_id AS query_id, raw AS qv FROM e WHERE vec_id < 10),
        |asn AS (
        |  SELECT query_id, bucket,
        |    row_number() OVER (PARTITION BY query_id ORDER BY
        |      floor((list_dot_product(qv, centroid)/(sqrt(list_dot_product(qv, qv))*sqrt(list_dot_product(centroid, centroid))))*10000 + 0.5)/10000 DESC,
        |      bucket) AS rn
        |  FROM qp, cent
        |),
        |probed AS (SELECT query_id, bucket FROM asn WHERE rn <= 2),
        |dt AS (
        |  SELECT s.vec_id AS query_id, s.m, b.code, list_dot_product(s.sv, b.cent) AS part
        |  FROM sub s JOIN book1 b ON s.m = b.m
        |  WHERE s.vec_id < 10
        |),
        |sc AS (
        |  SELECT d.query_id, c.vec_id AS neighbor_id, floor(sum(d.part)*10000 + 0.5)/10000 AS approx_cos
        |  FROM codes c
        |  JOIN e ce ON ce.vec_id = c.vec_id
        |  JOIN probed p ON p.bucket = ce.label
        |  JOIN dt d ON d.query_id = p.query_id AND c.m = d.m AND c.code = d.code
        |  WHERE c.vec_id <> p.query_id
        |  GROUP BY 1, 2
        |),
        |sl AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY approx_cos DESC, neighbor_id) AS srnk
        |  FROM sc
        |),
        |short AS (SELECT query_id, neighbor_id FROM sl WHERE srnk <= 25),
        |rr AS (
        |  SELECT s.query_id, s.neighbor_id,
        |    floor((list_dot_product(qe.raw, ne.raw)
        |      / (sqrt(list_dot_product(qe.raw, qe.raw)) * sqrt(list_dot_product(ne.raw, ne.raw))))*10000 + 0.5)/10000 AS cos
        |  FROM short s
        |  JOIN e qe ON qe.vec_id = s.query_id
        |  JOIN e ne ON ne.vec_id = s.neighbor_id
        |),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM rr)
        |SELECT query_id, neighbor_id, cos, rnk::BIGINT AS rnk FROM rk WHERE rnk <= 5""".stripMargin,
    "q104_pq_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS raw FROM embeddings),
        |n AS (SELECT vec_id, list_transform(raw, x -> x / sqrt(list_dot_product(raw, raw))) AS v FROM e),
        |sub AS (
        |  SELECT vec_id, g.m AS m, n.v[g.m*4+1 : g.m*4+4] AS sv
        |  FROM n, (SELECT unnest(generate_series(0, 15)) AS m) g
        |),
        |gx AS (
        |  SELECT vec_id, m, gj.j AS j, sv[gj.j] AS x
        |  FROM sub, (SELECT unnest(generate_series(1, 4)) AS j) gj
        |),
        |nt AS (
        |  SELECT vec_id, m, j, ntile(4) OVER (PARTITION BY m, j ORDER BY x, vec_id) AS b
        |  FROM gx
        |),
        |cells AS (SELECT vec_id, m, sum((b-1) * power(4, j-1))::BIGINT AS cell FROM nt GROUP BY 1, 2),
        |cb0 AS (
        |  SELECT s.m, c.cell, gj.j, avg(s.sv[gj.j]) AS cj
        |  FROM sub s JOIN cells c ON s.vec_id = c.vec_id AND s.m = c.m,
        |       (SELECT unnest(generate_series(1, 4)) AS j) gj
        |  GROUP BY 1, 2, 3
        |),
        |book0 AS (SELECT m, cell AS code, list(cj ORDER BY j) AS cent FROM cb0 GROUP BY 1, 2),
        |a1 AS (
        |  SELECT s.vec_id, s.m, b.code,
        |    floor((list_dot_product(b.cent, b.cent) - 2*list_dot_product(s.sv, b.cent))*10000 + 0.5)/10000 AS d
        |  FROM sub s JOIN book0 b ON s.m = b.m
        |),
        |r1 AS (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn FROM a1),
        |asn1 AS (SELECT vec_id, m, code AS cell FROM r1 WHERE rn = 1),
        |cb1 AS (
        |  SELECT s.m, a.cell, gj.j, avg(s.sv[gj.j]) AS cj
        |  FROM sub s JOIN asn1 a ON s.vec_id = a.vec_id AND s.m = a.m,
        |       (SELECT unnest(generate_series(1, 4)) AS j) gj
        |  GROUP BY 1, 2, 3
        |),
        |book1 AS (SELECT m, cell AS code, list(cj ORDER BY j) AS cent FROM cb1 GROUP BY 1, 2),
        |a2 AS (
        |  SELECT s.vec_id, s.m, b.code,
        |    floor((list_dot_product(b.cent, b.cent) - 2*list_dot_product(s.sv, b.cent))*10000 + 0.5)/10000 AS d
        |  FROM sub s JOIN book1 b ON s.m = b.m
        |),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn FROM a2),
        |codes AS (SELECT vec_id, m, code FROM r2 WHERE rn = 1),
        |dt AS (
        |  SELECT s.vec_id AS query_id, s.m, b.code, list_dot_product(s.sv, b.cent) AS part
        |  FROM sub s JOIN book1 b ON s.m = b.m
        |  WHERE s.vec_id < 10
        |),
        |sc AS (
        |  SELECT d.query_id, c.vec_id AS neighbor_id, floor(sum(d.part)*10000 + 0.5)/10000 AS approx_cos
        |  FROM codes c JOIN dt d ON c.m = d.m AND c.code = d.code AND c.vec_id <> d.query_id
        |  GROUP BY 1, 2
        |),
        |sl AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY approx_cos DESC, neighbor_id) AS srnk
        |  FROM sc
        |),
        |short AS (SELECT query_id, neighbor_id FROM sl WHERE srnk <= 25),
        |rr AS (
        |  SELECT s.query_id, s.neighbor_id,
        |    floor((list_dot_product(qe.raw, ne.raw)
        |      / (sqrt(list_dot_product(qe.raw, qe.raw)) * sqrt(list_dot_product(ne.raw, ne.raw))))*10000 + 0.5)/10000 AS cos
        |  FROM short s
        |  JOIN e qe ON qe.vec_id = s.query_id
        |  JOIN e ne ON ne.vec_id = s.neighbor_id
        |),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM rr)
        |SELECT query_id, neighbor_id, cos, rnk::BIGINT AS rnk FROM rk WHERE rnk <= 5""".stripMargin,
    "q37_ivf_topk" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (
        |  SELECT label AS bucket, g.i AS dim, avg(v[g.i]) AS m
        |  FROM e, generate_series(1, 64) g(i)
        |  GROUP BY 1, 2
        |), cent AS (SELECT bucket, list(m ORDER BY dim) AS centroid FROM c GROUP BY 1),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |asn AS (
        |  SELECT query_id, bucket, qv,
        |    row_number() OVER (PARTITION BY query_id ORDER BY
        |      floor((list_dot_product(qv, centroid)/(sqrt(list_dot_product(qv, qv))*sqrt(list_dot_product(centroid, centroid))))*10000 + 0.5)/10000 DESC,
        |      bucket) AS rn
        |  FROM q, cent
        |), s AS (
        |  SELECT a.query_id, a.bucket, e.vec_id AS neighbor_id,
        |    floor((list_dot_product(a.qv, e.v)/(sqrt(list_dot_product(a.qv, a.qv))*sqrt(list_dot_product(e.v, e.v))))*10000 + 0.5)/10000 AS cos_r
        |  FROM asn a JOIN e ON e.label = a.bucket AND e.vec_id <> a.query_id
        |  WHERE a.rn = 1
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_r DESC, neighbor_id) AS rnk FROM s
        |)
        |SELECT query_id, bucket, neighbor_id, rnk::BIGINT AS rnk, cos_r FROM r WHERE rnk <= 5""".stripMargin,
    "q45_ivf_nprobe2" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (
        |  SELECT label AS bucket, g.i AS dim, avg(v[g.i]) AS m
        |  FROM e, generate_series(1, 64) g(i)
        |  GROUP BY 1, 2
        |), cent AS (SELECT bucket, list(m ORDER BY dim) AS centroid FROM c GROUP BY 1),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |asn AS (
        |  SELECT query_id, bucket, qv,
        |    row_number() OVER (PARTITION BY query_id ORDER BY
        |      floor((list_dot_product(qv, centroid)/(sqrt(list_dot_product(qv, qv))*sqrt(list_dot_product(centroid, centroid))))*10000 + 0.5)/10000 DESC,
        |      bucket) AS rn
        |  FROM q, cent
        |), s AS (
        |  SELECT a.query_id, a.bucket, e.vec_id AS neighbor_id,
        |    floor((list_dot_product(a.qv, e.v)/(sqrt(list_dot_product(a.qv, a.qv))*sqrt(list_dot_product(e.v, e.v))))*10000 + 0.5)/10000 AS cos_r
        |  FROM asn a JOIN e ON e.label = a.bucket AND e.vec_id <> a.query_id
        |  WHERE a.rn <= 2
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_r DESC, neighbor_id) AS rnk FROM s
        |)
        |SELECT query_id, bucket, neighbor_id, rnk::BIGINT AS rnk, cos_r FROM r WHERE rnk <= 5""".stripMargin,
    "q23_simhash_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |  FROM documents
        |), h AS (
        |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
        |), bits AS (
        |  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h CROSS JOIN (SELECT unnest(range(0, 60))::INT AS b) GROUP BY 1, 2
        |), sh AS (
        |  SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
        |  FROM bits GROUP BY 1
        |), bands AS (
        |  SELECT doc_id, simhash, band, (simhash >> (band * 16)) & 65535 AS band_key
        |  FROM sh CROSS JOIN (SELECT unnest(range(0, 4))::INT AS band)
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.simhash AS sa, b.simhash AS sb
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        |)
        |SELECT id_a, id_b, bit_count(xor(sa, sb))::INT AS hamming
        |FROM cand WHERE bit_count(xor(sa, sb)) <= 3""".stripMargin,
    "q30_multimodal_meta" ->
      """SELECT doc_id AS media_id, 'text/plain' AS kind,
        |  strlen(text)::BIGINT AS n_bytes, md5(text) AS content_md5
        |FROM documents""".stripMargin,
    "q101_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, text, strlen(text)::BIGINT AS n_bytes
        |  FROM documents WHERE strlen(text) > 0
        |), f AS (
        |  SELECT media_id, text,
        |    unnest(range(0, ((n_bytes - 1) // 256) + 1)) AS i
        |  FROM m
        |)
        |SELECT media_id, i::BIGINT AS frame_idx,
        |  hex(encode(substring(text, (i * 256 + 1)::INT, 64))) AS frame_hex
        |FROM f""".stripMargin
  )
}
