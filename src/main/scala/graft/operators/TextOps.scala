package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language-ID, quality scoring, token counting, fingerprinting. All are
  * pure column expressions (codegen'd, no UDFs) so they run inside
  * WholeStageCodegen and scale linearly with input splits — no shuffle at
  * all for the per-document scores.
  *
  * Every function here is deliberately expressible in ANSI SQL so the
  * DuckDB oracle can replay it exactly (deterministic arithmetic only).
  */
object TextOps {

  /** Whitespace token count (single-space tokenized corpora). */
  def tokenCount(text: Column): Column =
    size(split(text, " "))

  /** BPE-ish token count: alternating letter runs / digit runs / single
    * non-alphanumerics, the shape of a byte-level BPE pre-tokenizer split.
    */
  def tokenCountRegex(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))

  /** Language-ID marker words: high-frequency function words per language.
    * Public-knowledge heuristic (stopword n-gram profiling).
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "es" -> Seq("el", "la", "de"),
    "de" -> Seq("der", "die", "und"),
    "fr" -> Seq("le", "les", "des"),
    "zh" -> Seq("的", "是", "在")
  )

  private def markerScore(tokens: Column, markers: Seq[String]): Column =
    size(filter(tokens, t => t.isin(markers.map(lit): _*)))

  /** Language-ID: argmax of per-language marker-token counts with a fixed
    * tie-break order (declaration order above); all-zero → "und".
    */
  def langId(text: Column): Column = {
    val toks = split(text, " ")
    val scores = langMarkers.map { case (lang, ms) => lang -> markerScore(toks, ms) }
    val total = scores.map(_._2).reduce(_ + _)
    val best = scores.zipWithIndex.foldRight(lit("und")) { case (((lang, s), i), elseCol) =>
      val beatsLater = scores.drop(i + 1).map { case (_, s2) => s >= s2 }
      val beatsEarlier = scores.take(i).map { case (_, s2) => s > s2 }
      val isMax = (beatsLater ++ beatsEarlier).foldLeft(lit(true))(_ && _)
      when(isMax, lit(lang)).otherwise(elseCol)
    }
    when(total === 0, lit("und")).otherwise(best)
  }

  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Quality scoring: token count, mean token length, stopword ratio,
    * punctuation ratio, plus a composite score in [0,1]. Deterministic
    * double arithmetic (single divisions over exact integer counts).
    */
  def qualityFeatures(df: DataFrame, text: Column): DataFrame = {
    val toks = split(text, " ")
    val ntok = size(toks).cast("double")
    val nchar = length(text).cast("double")
    val nstop = size(filter(toks, t => t.isin(stopwords.map(lit): _*))).cast("double")
    val npunct = (length(text) - length(regexp_replace(text, "[.,!?;:]", ""))).cast("double")
    df.withColumn("n_tokens", size(toks))
      .withColumn("mean_tok_len", (nchar - (ntok - 1)) / ntok)
      .withColumn("stopword_ratio", nstop / ntok)
      .withColumn("punct_ratio", npunct / nchar)
  }

  /** Composite quality score in [0,1]: rewards moderate length and a
    * natural stopword ratio, penalizes punctuation soup. The exact shape is
    * a heuristic; determinism is what matters for the oracle.
    */
  def qualityScore: Column = {
    val lenScore = least(col("n_tokens").cast("double") / 50.0, lit(1.0))
    val stopScore = least(col("stopword_ratio") * 5.0, lit(1.0))
    val punctPenalty = least(col("punct_ratio") * 10.0, lit(1.0))
    (lenScore + stopScore) / 2.0 * (lit(1.0) - punctPenalty)
  }

  /** Content fingerprint: md5 of whitespace-normalized lowercase text —
    * the exact-dedup key for a 100 TB corpus (hash once, group on 128-bit
    * key instead of full text; shuffle carries 16 bytes not documents).
    * Normalization and hashing run as ONE native pass
    * ([[graft.functions.text.FingerprintMd5]]: per-thread digest and
    * buffer, hex written straight into the result), bit-equal to
    * `md5(`[[normalizeText]]`(text))`; [[fingerprintMd5Declarative]]
    * remains as the oracle-portable spec (bit-equality asserted in
    * ClusterCurationSpec).
    */
  def fingerprintMd5(text: Column): Column = graft.functions.text.fingerprint_md5(text)

  /** Declarative spec of [[fingerprintMd5]] — what every dedup oracle
    * replays in DuckDB (`[ \t\n\r]+`, not `\s`: Java's `\s` adds
    * `\x0B\f`, RE2's adds `\v`, and the native walk handles exactly the
    * four bytes every real corpus normalizer cares about).
    */
  private[graft] def fingerprintMd5Declarative(text: Column): Column =
    md5(normalizeTextDeclarative(text))

  /** PII patterns for redaction — deliberately RE2-compatible (no
    * lookaround, no backreferences) so Java regex (Spark) and RE2 (DuckDB,
    * the oracle) match identically: emails, dotted-quad IPs, and
    * NNN-NNN-NNNN phone numbers. `\d`/`\b` agree across both engines
    * (ASCII digits / word chars).
    */
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern: String = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phonePattern: String = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** PII redaction (the scrub step a public-web training corpus runs
    * before anything else): replace emails, IPv4 addresses, and phone
    * numbers with typed placeholder tokens. Order matters — emails first
    * (they contain dots and digits), then IPs, then phones (disjoint from
    * IPs: hyphens vs dots). Pure codegen'd `regexp_replace` chain: one
    * scan, zero shuffle, linear in corpus bytes at any scale.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        ipv4Pattern,
        "<IP>"
      ),
      phonePattern,
      "<PHONE>"
    )

  /** Per-document PII hit counts (email, ip, phone) — the audit columns
    * that ride alongside [[redactPii]]'s scrubbed text. Each count runs on
    * the SAME input its [[redactPii]] pass sees (ips on email-redacted
    * text, phones on email+IP-redacted text), so the audit always agrees
    * with the number of replacements actually made — a phone-shaped
    * string inside an email local part ('555-123-4567@x.com') is neither
    * counted nor redacted as a phone.
    */
  def piiCounts(text: Column): Seq[Column] = {
    val afterEmail = regexp_replace(text, emailPattern, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, ipv4Pattern, "<IP>")
    Seq(
      regexp_count(text, lit(emailPattern)).as("n_emails"),
      regexp_count(afterEmail, lit(ipv4Pattern)).as("n_ips"),
      regexp_count(afterIp, lit(phonePattern)).as("n_phones")
    )
  }

  /** Fused audit + redaction — struct(n_emails, n_ips, n_phones, redacted)
    * in ONE native pass ([[graft.functions.text.PiiScrub]]): semantics
    * bit-equal to [[piiCounts]] :+ [[redactPii]] (asserted in
    * ClusterCurationSpec), ~20× their throughput at corpus scale (the
    * declarative chain is ~12 regex trees each re-decoding the document;
    * see the expression's scaladoc). This is the production path; the
    * declarative twins remain as the oracle-portable spec of the
    * semantics.
    */
  def piiScrub(text: Column): Column = graft.functions.text.pii_scrub(text)

  /** Canonical normalization for dedup keys (lowercase, collapse
    * `[ \t\n\r]+` runs to one space, trim) — ONE native byte walk
    * ([[graft.functions.text.NormalizeText]]), bit-equal to
    * [[normalizeTextDeclarative]] (asserted in ClusterCurationSpec).
    * The canonicalization exact-dedup pipelines apply before hashing so
    * case/whitespace jitter between crawls cannot defeat the 16-byte
    * digest key. Pure projection: zero shuffle at any scale.
    */
  def normalizeText(text: Column): Column = graft.functions.text.normalize_text(text)

  /** Declarative spec of [[normalizeText]] — the oracle-portable form
    * (explicit `[ \t\n\r]` class, NOT `\s`, which adds \x0B\f in Java and
    * unicode spaces elsewhere).
    */
  private[graft] def normalizeTextDeclarative(text: Column): Column =
    trim(regexp_replace(lower(text), "[ \\t\\n\\r]+", " "))

  /** Rolling (polynomial) hash fingerprint over tokens — Karp-Rabin style,
    * base 257 mod 2^31-1 (Mersenne; keeps acc*257+h < 2^40, no ANSI long
    * overflow). ONE native pass ([[graft.functions.text.RollingFp]]);
    * Spark-only (verified by ScalaTest, not the SQL oracle). The
    * declarative `aggregate` HOF twin remains below as the semantic spec
    * (its lambda runs interpreted per token — wrong shape for a
    * corpus-wide pass).
    */
  def fingerprintRolling(text: Column): Column =
    graft.functions.text.rolling_fp(text)

  /** The declarative spec of [[fingerprintRolling]] — bit-equality with
    * the native expression is asserted in ClusterCurationSpec.
    */
  private[graft] def fingerprintRollingDeclarative(text: Column): Column = {
    val mod = 2147483647L // 2^31 - 1
    aggregate(
      split(text, " "),
      lit(0L),
      (acc, tok) => pmod(acc * 257 + pmod(xxhash64(tok), lit(mod)), lit(mod))
    )
  }

  /** Token-distribution Shannon entropy per document — the
    * repetition/degeneracy gate complementing [[qualityScore]]'s ratio
    * heuristics: generated boilerplate and stuck-token artifacts collapse
    * to low entropy regardless of length. Computed as
    * `ln(n) − (Σ tf·ln tf)/n` (algebraically −Σ p·ln p, but this form
    * keeps every per-element double derived from an exact integer so the
    * DuckDB oracle reproduces each term bit-exactly; only the summation
    * order differs → 6dp rounding absorbs it). Returns one row per doc:
    * (doc_id, n_tokens, entropy, kept = entropy ≥ minEntropy).
    *
    * Shape at 100 TB: entropy is a PER-ROW quantity, so it runs as a
    * ZERO-SHUFFLE projection — one native tokenize-and-count pass
    * ([[graft.functions.text.TokenEntropy]], O(row) state, inside
    * WholeStageCodegen). The aggregation formulation
    * ([[tokenEntropyDeclarative]], kept as the semantic spec and the
    * shape of the x40 oracle SQL) shuffles one row per distinct token of
    * the corpus — ≈190 M rows at 5 M docs — to compute the same thing;
    * measured A/B in `StressXOps retrieval`.
    */
  def tokenEntropy(
      df: DataFrame,
      idCol: Column,
      text: Column,
      minEntropy: Double = 2.0
  ): DataFrame =
    df.select(idCol.as("doc_id"), graft.functions.text.token_entropy(text).as("__te"))
      .select(
        col("doc_id"),
        col("__te.n_tokens").as("n_tokens"),
        round(col("__te.entropy"), 6).as("entropy")
      )
      .withColumn("kept", col("entropy") >= minEntropy)

  /** The two-exchange aggregation formulation of [[tokenEntropy]] — the
    * portable semantic spec (mirrors the x40 DuckDB oracle SQL shape);
    * equality with the native kernel holds at 6dp (summation order).
    */
  private[graft] def tokenEntropyDeclarative(
      df: DataFrame,
      idCol: Column,
      text: Column,
      minEntropy: Double = 2.0
  ): DataFrame =
    df.select(idCol.as("doc_id"), explode(split(text, " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("n_tokens"),
        round(
          log(sum(col("tf")).cast("double")) -
            sum(col("tf") * log(col("tf").cast("double"))) / sum(col("tf")),
          6
        ).as("entropy")
      )
      .withColumn("kept", col("entropy") >= minEntropy)

  /** Feature-hash bucket of a token: the first 3 hex chars of md5 as an
    * integer in [0, 4096) — the hashing trick (Weinberger et al. '09)
    * with an engine-portable hash, so the DuckDB oracle reproduces every
    * bucket bit-exactly (md5 agrees everywhere; hex→int is plain
    * substring/conv arithmetic). Codegen projection, zero shuffle.
    */
  val hashedFeatureDim: Int = 4096

  def featureBucket(tok: Column): Column =
    conv(substring(md5(tok), 1, 3), 16, 10).cast("long")

  /** Linear text-classifier INFERENCE over hashed features — the shape of
    * a fastText-style quality gate applied to a web corpus: tokenize,
    * hash each token into [[hashedFeatureDim]] buckets ([[featureBucket]]),
    * score = Σ weights(bucket), keep iff score ≥ `threshold`. Integer
    * weights keep the cross-engine check exact (no float summation-order
    * hazard). Training is out of scope — `weights` is the model, supplied
    * by the caller and embedded as a plan literal probed with
    * `element_at` (same design as the IVF centroid table: broadcast-once
    * read-only model state).
    *
    * Scale shape: explode_outer(tokens) → codegen projection → hash-agg
    * SUM by doc. Map-side partial aggregation collapses each doc's tokens
    * within its input partition, so the exchange carries ~one row per
    * document, not one per token; nothing else moves. Output: one row per
    * doc — (id, n_tokens, score, kept) — including NULL-text docs, which
    * score (n_tokens=0, score=0): `explode_outer` keeps them as a single
    * null-token row whose null weight is excluded by `count(w)` /
    * absorbed by `coalesce(sum(w), 0)`, upholding the one-row-per-doc
    * contract the other curation operators (dedupLines/dedupSpans) keep —
    * no re-join with the corpus needed.
    */
  def scoreLinearHashed(
      df: DataFrame,
      idCol: Column,
      text: Column,
      weights: Array[Long],
      threshold: Long = 0L
  ): DataFrame = {
    require(
      weights.length == hashedFeatureDim,
      s"weights must have length $hashedFeatureDim, got ${weights.length}"
    )
    df.select(idCol.as("id"), explode_outer(split(text, " ")).as("tok"))
      .select(col("id"), element_at(lit(weights), featureBucket(col("tok")).cast("int") + 1).as("w"))
      .groupBy(col("id"))
      .agg(
        count(col("w")).as("n_tokens"),
        coalesce(sum(col("w")), lit(0L)).as("score")
      )
      .withColumn("kept", col("score") >= threshold)
  }

  /** TRAINING twin of [[scoreLinearHashed]] — logistic regression over
    * the same hashed-feature space (buckets via [[featureBucket]], so the
    * learned weights plug straight into the inference gate after
    * [[quantizeWeights]]). This is the quality-classifier BOOTSTRAP step
    * of a curation pipeline (CCNet/GPT-style: label a seed set, train
    * the fastText-ish gate, score the web corpus).
    *
    * Batch gradient descent, driver-sequenced epochs — the same
    * bounded-model-state design as `Similarity.ivfTrain`'s Lloyd loop:
    * the corpus collapses ONCE into one cached row per doc holding its
    * sparse (bucket, tf) features (the only doc-keyed exchange in the
    * whole run); each epoch is then a single pass over that cache — the
    * per-doc margin folds over the feature array against the
    * weight-vector plan literal, and the 4096-long dense gradient
    * arrives via one bucket-keyed partial aggregation (≤ dim rows per
    * partition on the exchange). The `collect()` per epoch is the
    * gradient (dim doubles, KBs) — bounded by construction, exactly the
    * shape the ivfTrain scaladoc defends. Do not "optimize" the epochs
    * into one plan: each epoch's literal DEPENDS on the previous
    * gradient.
    *
    * Gradients sum in partition order, so trained weights are
    * float-deterministic only per layout — which is why training is NOT
    * an oracle query: the e2e contract (train → quantize → gate) is
    * spec-tested on planted separable data instead.
    */
  def trainLinearHashed(
      df: DataFrame,
      idCol: Column,
      text: Column,
      label: Column,
      epochs: Int = 5,
      lr: Double = 0.5
  ): Array[Double] = {
    require(epochs > 0, s"epochs must be positive, got $epochs")
    val feats = df
      .select(idCol.as("id"), label.cast("double").as("y"), explode(graft.functions.text.word_counts(text)).as(Seq("tok", "tf")))
      .select(col("id"), col("y"), featureBucket(col("tok")).cast("int").as("b"), col("tf").cast("double").as("tf"))
      .groupBy(col("id"), col("y"))
      .agg(collect_list(struct(col("b"), col("tf"))).as("fs"))
      .persist()
    try {
      val n = feats.count().toDouble
      var w = new Array[Double](hashedFeatureDim)
      var epoch = 0
      while (epoch < epochs) {
        val wLit = lit(w)
        val margin = aggregate(col("fs"), lit(0.0), (acc, f) => acc + element_at(wLit, f.getField("b") + 1) * f.getField("tf"))
        // err = sigmoid(margin) - y; gradient_b = sum(err * tf_b) / n
        val grad = feats
          .select((lit(1.0) / (lit(1.0) + exp(-margin)) - col("y")).as("err"), col("fs"))
          .select(explode(col("fs")).as("f"), col("err"))
          .groupBy(col("f.b").as("b"))
          .agg(sum(col("err") * col("f.tf")).as("g"))
          .collect()
        val g = new Array[Double](hashedFeatureDim)
        grad.foreach(r => g(r.getInt(0)) = r.getDouble(1))
        w = Array.tabulate(hashedFeatureDim)(i => w(i) - lr * g(i) / n)
        epoch += 1
      }
      w
    } finally {
      feats.unpersist()
      ()
    }
  }

  /** LM-perplexity quality gate (CCNet-style): score every document by
    * its average bigram log-probability under an add-one-smoothed bigram
    * model trained on a REFERENCE corpus (the "good text" sample —
    * CCNet uses a Wikipedia LM; the gate drops docs whose text the model
    * finds improbable). Returns one row per doc:
    * (doc_id, n_bigrams, avg_logprob, kept = avg_logprob ≥ minLogProb);
    * docs with fewer than 2 tokens have no bigram and score the
    * smoothed-unseen floor.
    *
    *   P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V),  V = |train vocab|
    *
    * All counts are exact integers (engine-portable); the per-doc mean
    * rounds to 6dp (summation order).
    *
    * Shape at 100 TB: the model is TWO count tables — bigrams (bounded
    * by the train corpus's distinct bigrams) and unigrams
    * (vocabulary-sized) — joined LEFT to the corpus's exploded bigrams.
    * `broadcastModel = true` (default) ships both tables to every
    * executor so the corpus NEVER shuffles: the join, the miss→0
    * coalesce, and the per-doc mean (map-side partial ⇒ ~1 row/doc on
    * the only exchange) all run against broadcast state. For reference
    * corpora whose bigram table outgrows the driver, pass `false`: the
    * joins then hash-shuffle the corpus bigrams on their key — the
    * pre-broadcast shape.
    */
  def perplexityGate(
      df: DataFrame,
      idCol: Column,
      text: Column,
      train: DataFrame,
      trainText: Column,
      minLogProb: Double = -12.0,
      broadcastModel: Boolean = true
  ): DataFrame = {
    // train side: (w1, w2) and (w1) counts + vocab size
    val trainToks = train.select(split(trainText, " ").as("t"))
    val trainBi = trainToks
      .select(posexplode(slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0)))).as(Seq("i", "w1")), col("t"))
      .select(col("w1"), element_at(col("t"), col("i") + 2).as("w2"))
    val big0 = trainBi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val uni0 = trainToks
      .select(explode(col("t")).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("cu"))
    val vocab = uni0.agg(count(lit(1)).as("__v"))
    val big = if (broadcastModel) broadcast(big0) else big0
    val uni = if (broadcastModel) broadcast(uni0.withColumnRenamed("w", "w1")) else uni0.withColumnRenamed("w", "w1")
    // corpus side: every (doc, w1, w2) bigram; posexplode_OUTER keeps
    // bigram-less docs (<2 tokens, null text) as one null-w1 row that
    // coalesces to the smoothed-unseen floor — one row per doc, always
    val docBi = df
      .select(idCol.as("doc_id"), split(text, " ").as("t"))
      .select(
        col("doc_id"),
        posexplode_outer(slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0)))).as(Seq("i", "w1")),
        col("t")
      )
      .select(col("doc_id"), col("w1"), element_at(col("t"), col("i") + 2).as("w2"))
    docBi
      .join(big, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(
        col("doc_id"),
        col("w1"),
        log(
          (coalesce(col("cb"), lit(0L)) + lit(1.0)) /
            (coalesce(col("cu"), lit(0L)) + col("__v"))
        ).as("__lp")
      )
      .groupBy(col("doc_id"))
      .agg(
        count(col("w1")).as("n_bigrams"),
        round(avg(col("__lp")), 6).as("avg_logprob")
      )
      .withColumn("kept", col("avg_logprob") >= minLogProb)
  }

  /** Fixed-point quantization of trained weights for the integer-exact
    * inference gate: `round(w · factor)` per bucket. The gate decision
    * `Σ q(b)·tf ≥ threshold·factor` approximates `Σ w(b)·tf ≥ threshold`
    * with per-bucket error ≤ 0.5/factor.
    */
  def quantizeWeights(w: Array[Double], factor: Double = 1000.0): Array[Long] =
    w.map(x => math.round(x * factor))

  /** BPE tokenizer TRAINING (Sennrich et al. 2016): learn `numMerges`
    * merge rules from the corpus — the "train the tokenizer on the data"
    * step that precedes token counting, chunking, and packing in a real
    * pipeline. Fully deterministic: counts are exact integers and ties
    * break lexicographically on the pair, so the same corpus yields the
    * same merge table on any cluster layout (engine-oracle replay is
    * impossible only because the loop is data-dependent; the spec tests
    * against an independent driver-side reimplementation instead, the
    * scoreLinearHashed precedent).
    *
    * ROUND BATCHING (r12 — the production-vocab scaling fix): one Spark
    * job per merge means 32k jobs at production vocab. Each round now
    * accepts a PROVABLY-SEQUENTIAL-EXACT prefix of the sorted pair
    * table — not a heuristic batch — so the result is bit-identical to
    * one-merge-at-a-time Sennrich training:
    *   - batch members must be pairwise symbol-disjoint and must not
    *     touch any earlier member's created token: then applying m_j
    *     cannot change m_i's count (merging (a,b) only destroys pairs
    *     adjacent to a or b and creates pairs adjacent to a+b);
    *   - a pair CREATED by accepted merge (a,b)→t is of the form (x,t)
    *     or (t,y), and every occurrence was an occurrence of (x,a) /
    *     (b,y) (plus any pre-existing t-string pairs), so its count is
    *     ≤ maxEnd(a)+maxEnd(t) / maxStart(b)+maxStart(t) — per-symbol
    *     maxima read from the SAME round's pair table. Acceptance
    *     requires the candidate's count to STRICTLY exceed every prior
    *     member's created-pair bound, so no created pair can out-rank
    *     (or lex-tie) it in the sequential order;
    *   - the first violation STOPS the batch (a skipped pair might be
    *     sequential's next pick). The round argmax is always accepted,
    *     so progress is guaranteed and `batchSize = 1` degrades to the
    *     r11 behavior exactly.
    * All accepted merges apply in ONE fold pass via a single map-literal
    * lookup (disjointness makes one left-to-right pass equal to
    * sequential per-merge passes). Equality with the sequential trainer
    * is spec-pinned on randomized corpora.
    *
    * Shape at 100 TB: the corpus collapses ONCE into the word-frequency
    * table (vocabulary-sized — the only corpus-sized pass); every round
    * after that runs on the vocab table: one pair-count partial agg
    * (TakeOrdered batchSize — never a full sort), one small per-symbol
    * maxima agg over the topK's symbols, a driver-side greedy over
    * ≤ batchSize rows (the ivfTrain bounded-model pattern), and one fold
    * that applies the whole batch. `localCheckpoint` per round truncates
    * the lineage. Apply at corpus scale is the separate native kernel
    * [[graft.functions.text.BpeSegment]] — merges ride it as a
    * reference object.
    */
  def trainBpe(
      df: DataFrame,
      text: Column,
      numMerges: Int,
      minPairCount: Long = 2L,
      batchSize: Int = 64
  ): Seq[(String, String)] = {
    require(numMerges > 0, s"numMerges must be positive, got $numMerges")
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val sep = "\u0000"
    var words = df
      .select(explode(split(text, " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(split(col("w"), "").as("syms"), col("cnt"))
      .transform(graft.runtime.GraftCheckpoint.pin)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done && merges.length < numMerges) {
      val pc = words
        .select(
          explode(
            zip_with(
              slice(col("syms"), lit(1), size(col("syms")) - 1),
              slice(col("syms"), lit(2), size(col("syms")) - 1),
              (a, b) => struct(a.as("a"), b.as("b"))
            )
          ).as("p"),
          col("cnt")
        )
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("c"))
        .persist()
      val topK = pc
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(math.min(batchSize, numMerges - merges.length))
        .collect()
      if (topK.isEmpty || topK(0).getLong(2) < minPairCount) {
        pc.unpersist()
        done = true
      } else {
        // per-symbol maxima for the created-pair bounds, restricted to
        // the symbols the topK can touch (≤ 3·batchSize strings)
        val needed =
          topK.flatMap(r => Seq(r.getString(0), r.getString(1), r.getString(0) + r.getString(1)))
            .distinct.toSeq
        val bRows = pc
          .filter(col("a").isin(needed: _*) || col("b").isin(needed: _*))
          .collect()
        pc.unpersist()
        val maxStart = bRows.groupBy(_.getString(0)).map { case (k, v) =>
          k -> v.map(_.getLong(2)).max
        }
        val maxEnd = bRows.groupBy(_.getString(1)).map { case (k, v) =>
          k -> v.map(_.getLong(2)).max
        }
        val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        var blocked = Set.empty[String]
        var createdBound = Long.MinValue
        var stop = false
        for (r <- topK if !stop) {
          val (a, b, c) = (r.getString(0), r.getString(1), r.getLong(2))
          if (c < minPairCount) stop = true
          // the !blocked(a + b) leg closes the double-creation hole: two
          // disjoint accepted merges whose concatenations are the SAME
          // string (("ab","cd") and ("abc","d") -> "abcd") would ADD
          // their created-pair masses, escaping each per-merge bound
          else if (accepted.isEmpty || (!blocked(a) && !blocked(b) && !blocked(a + b) && c > createdBound)) {
            accepted += ((a, b))
            val t = a + b
            blocked ++= Set(a, b, t)
            createdBound = math.max(
              createdBound,
              math.max(
                maxEnd.getOrElse(a, 0L) + maxEnd.getOrElse(t, 0L),
                maxStart.getOrElse(b, 0L) + maxStart.getOrElse(t, 0L)
              )
            )
          } else stop = true
        }
        merges ++= accepted
        // one greedy left-to-right pass applies the WHOLE batch: merge s
        // into the tail when (last(acc), s) is an accepted pair — one
        // map-literal lookup; disjointness (above) makes the single pass
        // equal sequential per-merge passes, and a freshly-merged token
        // can never be any accepted pair's left symbol (blocked set).
        val mapLit =
          typedlit(accepted.map { case (a, b) => (a + sep + b) -> (a + b) }.toMap)
        val merged = aggregate(
          col("syms"),
          array().cast("array<string>"),
          (acc, s) => {
            val hit = element_at(mapLit, concat(element_at(acc, -1), lit(sep), s))
            when(
              size(acc) > 0 && hit.isNotNull,
              concat(slice(acc, lit(1), size(acc) - 1), array(hit))
            ).otherwise(concat(acc, array(s)))
          }
        )
        val next =
          words.select(merged.as("syms"), col("cnt")).transform(graft.runtime.GraftCheckpoint.pin)
        words.unpersist()
        words = next
      }
    }
    words.unpersist()
    merges.toSeq
  }

  /** Gopher rule-based quality gate (Rae et al. 2021, Table A1): the
    * document-level heuristics a web corpus is filtered with BEFORE any
    * model-based gate — word-count bounds, mean word length bounds,
    * symbol-to-word ratio (# and …), alphabetic-word fraction, bullet- /
    * ellipsis-line fractions, and a minimum stop-word hit count. Returns
    * one row per doc with every signal (floats rounded 6dp) plus the
    * conjunctive `kept`.
    *
    * Words split on `[ \n]+`, lines on `\n`. Pure per-row projection —
    * zero shuffle at any corpus size; the array lambdas
    * (`filter`/`array_intersect`) run interpreted per-row, which is fine
    * off the hot path (and measured harmless next to the regexp work —
    * if a profile ever says otherwise, the fusion recipe is
    * [[graft.functions.text.TokenEntropy]]'s).
    */
  /** Compression-ratio quality signal: DEFLATE-compressed bytes / raw
    * bytes (Gopher/RefinedWeb-style — templated and repetitive documents
    * compress far below natural prose, no model needed). Ratio is
    * deterministic per zlib but NOT engine-portable; gate on separation
    * (planted invariants), not raw values. Pure per-row codegen; zero
    * shuffle.
    */
  def compressionRatio(text: Column, level: Int = 6): Column = {
    val bytes = encode(text, "UTF-8")
    round(
      graft.functions.codecs.deflate_len(bytes, level).cast("double") /
        octet_length(bytes).cast("double"),
      6
    )
  }

  /** HTML → text extraction (the trafilatura-ish first pass of a web
    * pipeline): drop `<script>`/`<style>` blocks wholesale (their BODIES
    * are code, and `y < 2` inside a script would otherwise survive tag
    * stripping), strip remaining tags, decode the common entities, and
    * collapse whitespace. Every step is an RE2-safe regex or a literal
    * replace, so the DuckDB oracle replays the chain verbatim (the
    * [[piiScrub]] discipline). Pure per-row projection; zero shuffle. For
    * the hot path at corpus scale, fuse into a native expression exactly
    * as PiiScrub did — this declarative chain is the semantics contract.
    */
  def htmlExtract(html: Column): Column = {
    // one pass per tag kind: the tempting single-pass alternation
    // `<(script|style)>.*?</(script|style)>` cross-matches
    // `<script>…</style>` (RE2 has no backreferences to pin the closer),
    // under-stripping mismatched blocks
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noBlocks = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noBlocks, "<[^>]*>", " ")
    val decoded = Seq(
      "&nbsp;" -> " ",
      "&lt;" -> "<",
      "&gt;" -> ">",
      "&quot;" -> "\"",
      "&#39;" -> "'",
      "&amp;" -> "&" // LAST: earlier entities must not double-decode
    ).foldLeft(noTags) { case (c, (e, r)) => replace(c, lit(e), lit(r)) }
    trim(regexp_replace(decoded, "[ \\t\\n\\r]+", " "))
  }

  def gopherQualityGate(
      df: DataFrame,
      idCol: Column,
      text: Column,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      minAlphaFrac: Double = 0.8,
      maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3,
      minStopHits: Int = 2,
      maxChars: Int = 10000000
  ): DataFrame = {
    require(maxChars >= 1, s"maxChars must be >= 1, got $maxChars")
    val stopwords = Seq("the", "be", "to", "of", "and", "a", "in", "that")
    val t = coalesce(text, lit(""))
    // MONSTER-ROW shed (the O-14 load-shed discipline applied to row
    // size): a row past maxChars never reaches the split/regex chain —
    // CaseWhen evaluates lazily, so the expensive branch is skipped, the
    // row fails the gate, and the shed mass stays observable (is_shed).
    val inB = length(t) <= maxChars
    val words = split(t, "[ \n]+")
    val lines = split(t, "\n")
    val nWords = size(words)
    val nLines = size(lines)
    val nHash = length(t) - length(regexp_replace(t, "#", ""))
    val nEllipsis = (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / lit(3)
    df.select(
        idCol.as("doc_id"),
        when(inB, nWords).as("n_words"),
        when(inB, round(length(regexp_replace(t, "[ \n]", "")).cast("double") / nWords, 6))
          .as("mean_word_len"),
        when(inB, round((nHash + nEllipsis).cast("double") / nWords, 6)).as("symbol_ratio"),
        when(inB, round(size(filter(words, w => w.rlike("[a-zA-Z]"))).cast("double") / nWords, 6))
          .as("alpha_frac"),
        when(
          inB,
          round(
            size(filter(lines, l => l.like("- %") || l.like("* %"))).cast("double") / nLines,
            6
          )
        ).as("bullet_frac"),
        when(inB, round(size(filter(lines, l => l.like("%..."))).cast("double") / nLines, 6))
          .as("ellipsis_frac"),
        when(inB, size(array_intersect(array_distinct(words), lit(stopwords.toArray))))
          .as("stop_hits"),
        (!inB).as("is_shed")
      )
      .withColumn(
        "kept",
        !col("is_shed") &&
          col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(minMeanWordLen, maxMeanWordLen) &&
          col("symbol_ratio") <= maxSymbolRatio &&
          col("alpha_frac") >= minAlphaFrac &&
          col("bullet_frac") <= maxBulletFrac &&
          col("ellipsis_frac") <= maxEllipsisFrac &&
          col("stop_hits") >= minStopHits
      )
  }

  /** Blocklist phrase gate (the C4 "bad-words" filter, ref:
    * `res/` corpus-curation intent): flag documents containing any phrase
    * from a blocklist, as case-insensitive whole-word matches. The list
    * compiles to ONE alternation regex — longest phrase FIRST, so
    * overlapping phrases ("table scan" vs "table") resolve identically in
    * any leftmost-first engine — and that pattern is a plan literal:
    * compiled once per task, zero shuffle, the scan stays in
    * WholeStageCodegen. At a real blocklist size (hundreds of phrases)
    * the alternation is linear in text length under both RE2 and the JVM
    * engine; at `acSwitchAt` (default 10k) phrases the gate auto-switches
    * to ONE [[graft.functions.text.BlocklistScan]] Aho–Corasick pass —
    * the declarative form stays the semantics contract (equality
    * spec-pinned at the boundary), the automaton is the scale path.
    *
    * Returns (doc_id, n_hits, first_hit, blocked): total occurrence
    * count, the first matching phrase (lowercased) or NULL, and the gate
    * decision — count-and-flag, never silently drop (the load-shed
    * accounting discipline).
    */
  /** Longest-first RE2-safe alternation over `phrases`, each edge
    * anchored with \\b only where that edge is a word character (a \\b
    * against a non-word edge like "c++" can never match) — shared by
    * [[blocklistGate]] and [[lexiconCategories]].
    */
  private[graft] def phrasePattern(phrases: Seq[String]): String = {
    require(phrases.forall(_.nonEmpty), "phrases must be non-empty strings")
    def isWord(c: Char): Boolean =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '_'
    phrases
      .sortBy(p => (-p.length, p))
      .map { p =>
        val esc = p.replaceAll("([^a-zA-Z0-9 _])", "\\\\$1")
        val lb = if (isWord(p.head)) "\\b" else ""
        val rb = if (isWord(p.last)) "\\b" else ""
        lb + esc + rb
      }
      .mkString("(?:", "|", ")")
  }

  def blocklistGate(
      df: DataFrame,
      idCol: Column,
      text: Column,
      phrases: Seq[String],
      acSwitchAt: Int = 10000
  ): DataFrame = {
    require(phrases.nonEmpty, "blocklist must not be empty")
    require(phrases.forall(_.nonEmpty), "blocklist phrases must be non-empty strings")
    val t = lower(coalesce(text, lit("")))
    if (phrases.size >= acSwitchAt) {
      // large-blocklist path: one Aho–Corasick pass (O(len + matches))
      // instead of a k-way regex alternation the JDK engine scans
      // per-alternative; semantics spec-pinned equal to the regex twin
      // (leftmost, longest-first, per-edge \b, non-overlapping)
      val scan = graft.functions.text.blocklist_scan(t, phrases)
      df.select(idCol.as("doc_id"), scan.as("__s"))
        .select(
          col("doc_id"),
          col("__s.n_hits").cast("int").as("n_hits"), // regexp_count emits int: keep both paths schema-identical
          col("__s.first_hit").as("first_hit")
        )
        .withColumn("blocked", col("n_hits") > 0)
    } else {
      // pattern construction (escaping + per-edge \b) shared via phrasePattern
      val pat = phrasePattern(phrases)
      df.select(
        idCol.as("doc_id"),
        regexp_count(t, lit(pat)).as("n_hits"),
        nullif(regexp_extract(t, pat, 0), lit("")).as("first_hit")
      ).withColumn("blocked", col("n_hits") > 0)
    }
  }

  /** URL canonicalization (the crawl-frontier / URL-dedup key): strip the
    * fragment, lowercase scheme and host, drop a default `:80`/`:443`
    * port and a leading `www.`, remove tracking query parameters
    * (`utm_*`, `fbclid`, `gclid`) while healing the separators, and trim
    * a trailing slash. Pure per-row regex chain — zero shuffle, and every
    * step is RE2-safe so the DuckDB oracle replays it verbatim (the
    * [[htmlExtract]] discipline). Group-reference syntax differs ($1 vs
    * \1) but the PATTERNS are identical.
    */
  def urlNormalize(url: Column): Column = {
    val noFrag = regexp_replace(coalesce(url, lit("")), "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val afterScheme = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val host = regexp_replace(
      regexp_replace(lower(regexp_extract(afterScheme, "^([^/?]*)", 1)), ":(80|443)$", ""),
      "^www\\.",
      ""
    )
    val pathQ = regexp_replace(afterScheme, "^[^/?]*", "")
    // drop tracking params keeping their separator, then heal ?&& runs
    // and trailing separators (see the spec's worked traces)
    val noTrack =
      regexp_replace(pathQ, "([?&])(?:utm_[a-z0-9]+|fbclid|gclid)=[^&#]*", "$1")
    val healed =
      regexp_replace(regexp_replace(noTrack, "([?&])&+", "$1"), "[?&]+$", "")
    regexp_replace(concat(scheme, lit("://"), host, healed), "/+$", "")
  }

  /** Registrable-domain extraction (eTLD+1) with a bounded multi-part
    * public-suffix seed list — the per-site aggregation key for domain
    * caps/mixing ([[CorpusOps.capPerDomain]], [[CorpusOps.epochMixture]]).
    * The real public-suffix list is ~9k entries and belongs in a
    * broadcast lookup refreshed out-of-band; the operator semantics
    * (last-2 labels, or last-3 under a listed multi-part suffix) are
    * what this encodes. Pure expression, zero shuffle.
    */
  def registrableDomain(host: Column): Column = {
    val multiPart = Seq("co.uk", "org.uk", "ac.uk", "gov.uk", "co.jp", "com.au", "com.br", "co.nz", "co.in")
    val labels = split(host, "\\.")
    val n = size(labels)
    val last2 = concat_ws(".", element_at(labels, -2), element_at(labels, -1))
    val last3 = concat_ws(".", element_at(labels, -3), element_at(labels, -2), element_at(labels, -1))
    when(n >= 3 && array_contains(lit(multiPart.toArray), last2), last3)
      .when(n >= 2, last2)
      .otherwise(host)
  }

  /** Encoding-corruption audit (mojibake / replacement-char / stray
    * control bytes): the UTF-8 sanity gate a web corpus needs before any
    * token-level processing — double-encoded UTF-8 ("Ã©", "â€™", "Â ")
    * survives every downstream filter while poisoning the tokenizer.
    * Counts are regex literals over the text (unicode-exact in both
    * engines), the score normalizes by character length, and the gate is
    * count-and-flag. Zero shuffle.
    */
  def encodingQuality(df: DataFrame, idCol: Column, text: Column): DataFrame = {
    val t = coalesce(text, lit(""))
    val mojiPat = "Ã©|Ã¨|Ã¤|Ã¶|Ã¼|â€™|â€œ|Â |�"
    val ctrlPat = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"
    df.select(
        idCol.as("doc_id"),
        regexp_count(t, lit(mojiPat)).as("n_moji"),
        regexp_count(t, lit(ctrlPat)).as("n_ctrl"),
        length(t).as("n_chars")
      )
      .withColumn(
        "moji_score",
        round((col("n_moji") + col("n_ctrl")).cast("double") / greatest(col("n_chars"), lit(1)), 6)
      )
      .withColumn("corrupt", col("n_moji") > 0 || col("n_ctrl") > 0)
  }

  /** Code-corpus quality gate (the StarCoder/Codex source-file filters):
    * line-length shape (minified/generated bundles have kilometer lines),
    * alphanumeric fraction (data blobs and encoded payloads don't), and
    * the auto-generated marker. Pure per-row expressions, zero shuffle;
    * count-and-flag. `mean_line_len` is derived arithmetically from
    * `length(text)` and the line count (single `\n` separators), so every
    * column is engine-portable.
    */
  private val Alnum =
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"

  def codeQualityGate(
      df: DataFrame,
      idCol: Column,
      text: Column,
      maxLineLen: Int = 800,
      maxMeanLineLen: Int = 800,
      minAlnumFrac: Double = 0.5
  ): DataFrame = {
    val t = coalesce(text, lit(""))
    val lines = split(t, "\n")
    val nLines = size(lines)
    df.select(
        idCol.as("doc_id"),
        nLines.as("n_lines"),
        // native kernel, NOT array_max(transform(...)): the interpreted
        // HOF lambda evicts the projection from codegen and with it
        // subexpression elimination — every sibling metric then
        // re-computes `t` (see functions.text.MaxLineLen scaladoc)
        graft.functions.text.max_line_len(t).as("max_line_len"),
        round((length(t) - (nLines - 1)).cast("double") / nLines, 6).as("mean_line_len"),
        // translate-delete, NOT regexp_replace("[^a-zA-Z0-9]", ""): the
        // negated char class costs ~100 ns/char in java.util.regex on
        // non-matching text (measured 14.2 s vs 0.3 s over 22k 6 KB
        // minified docs); translate is a codegen'd table lookup and
        // exists with identical semantics in DuckDB
        round(
          (length(t) - length(translate(t, Alnum, ""))).cast("double") / greatest(length(t), lit(1)),
          6
        ).as("alnum_frac"),
        (lower(t).contains("auto-generated") || lower(t).contains("do not edit")).as("autogen")
      )
      .withColumn(
        "kept",
        !col("autogen") &&
          col("max_line_len") <= maxLineLen &&
          col("mean_line_len") <= maxMeanLineLen &&
          col("alnum_frac") >= minAlnumFrac
      )
  }

  /** HTML head-metadata extraction (the crawl-selection signals that ride
    * NEXT TO [[htmlExtract]]'s body text): document title (whitespace-
    * collapsed), the canonical URL — the dedup key of choice when
    * present, feeding [[graft.operators.Dedup.keepBestByKey]] — and the
    * robots noindex flag (pages that asked to be excluded; a compliant
    * corpus pipeline must surface this). All RE2-safe single regexes over
    * the raw HTML, zero shuffle; attributes are matched in the
    * double-quoted `rel=`/`name=`-before-`href=`/`content=` layout (the
    * dominant emitted form — a production parser would normalize
    * attribute order upstream, this contract documents the fast path).
    */
  def htmlMeta(df: DataFrame, idCol: Column, html: Column): DataFrame = {
    val h = coalesce(html, lit(""))
    df.select(
      idCol.as("doc_id"),
      trim(regexp_replace(regexp_extract(h, "(?is)<title[^>]*>(.*?)</title>", 1), "[ \\t\\n\\r]+", " "))
        .as("title"),
      nullif(regexp_extract(h, "(?i)<link[^>]*rel=\"canonical\"[^>]*href=\"([^\"]*)\"", 1), lit(""))
        .as("canonical"),
      (regexp_count(h, lit("(?i)<meta[^>]*name=\"robots\"[^>]*content=\"[^\"]*noindex")) > 0)
        .as("noindex")
    )
  }

  /** Gazetteer phrase tagging — dictionary-based entity extraction (the
    * controlled-vocabulary pass of a curation pipeline: product names,
    * licenses, canonical citations): find every whitespace-token-aligned
    * occurrence of each dictionary phrase and emit
    * `(doc_id, pos, label, phrase)` per match. The multi-token strategy
    * is anchor-then-verify: the dictionary's FIRST tokens broadcast as
    * the anchor table (model state — a gazetteer is KBs/MBs, never
    * corpus-scale), the corpus tokenizes map-side with positions, the
    * anchor equi-join yields candidates, and the full-phrase check is an
    * array-slice equality against the doc's own token array joined back
    * BY ID — so text crosses the wire once, candidates are ids+ints.
    * A phrase whose anchor token is a stopword-frequency token inflates
    * candidates, not correctness; pre-filter the dictionary if that
    * bites.
    */
  def gazetteerTag(
      df: DataFrame,
      idCol: Column,
      text: Column,
      phrases: DataFrame,
      phraseCol: Column,
      labelCol: Column
  ): DataFrame = {
    val dict = phrases
      .select(phraseCol.as("phrase"), labelCol.as("label"))
      .withColumn("__pt", split(col("phrase"), " "))
      .withColumn("__anchor", element_at(col("__pt"), 1))
      .withColumn("__plen", size(col("__pt")))
    val docs = df.select(idCol.as("doc_id"), split(text, " ").as("__tok"))
    val cands = docs
      .select(col("doc_id"), posexplode(col("__tok")).as(Seq("pos", "__t")))
      .join(broadcast(dict), col("__t") === col("__anchor"))
      .select(col("doc_id"), col("pos"), col("label"), col("phrase"), col("__pt"), col("__plen"))
    cands
      .join(docs, "doc_id")
      .where(slice(col("__tok"), col("pos") + 1, col("__plen")) === col("__pt"))
      .select(col("doc_id"), col("pos"), col("label"), col("phrase"))
  }

  /** Sentence segmentation stats — the sentence-level quality features
    * ([[qualityFeatures]] is token-level): a sentence is a maximal
    * non-terminator run followed by one-or-more `.!?` (RE2-safe — no
    * lookbehind, so the same pattern replays in any regex engine); a
    * non-whitespace tail after the last terminator counts as one more
    * (truncated) sentence and clears `has_terminal`. Zero shuffle.
    * Returns (…, n_sentences, mean_sentence_tokens, max_sentence_chars,
    * has_terminal).
    */
  def sentenceStats(df: DataFrame, text: Column): DataFrame = {
    val t = coalesce(text, lit(""))
    val matches = regexp_extract_all(t, lit("[^.!?]*[.!?]+"), lit(0))
    val tail = trim(regexp_replace(t, "(?s).*[.!?]", ""))
    val all = when(tail === "", matches).otherwise(concat(matches, array(tail)))
    val nonEmpty = filter(all, s => trim(s) =!= "")
    val nSent = size(nonEmpty)
    val totTok = aggregate(nonEmpty, lit(0L), (acc, s) => acc + size(split(trim(s), " ")))
    df.withColumn("n_sentences", nSent)
      .withColumn(
        "mean_sentence_tokens",
        when(nSent > 0, round(totTok.cast("double") / nSent.cast("double"), 6))
      )
      .withColumn(
        "max_sentence_chars",
        when(nSent > 0, array_max(transform(nonEmpty, s => length(trim(s)))))
      )
      .withColumn("has_terminal", tail === "" && nSent > 0)
  }

  /** Formatting-noise stats — the casing/digit/bullet signals of a web
    * quality gate, all computed with `translate`-delete counting (the
    * x92 lesson: java.util.regex negated classes cost ~100 ns/char on
    * non-matching text; translate is a byte pass): uppercase fraction of
    * letters, digit fraction of chars, bullet-line fraction, and the
    * `is_shouty` verdict. Zero shuffle.
    */
  def formatStats(df: DataFrame, text: Column, shoutyThreshold: Double = 0.3): DataFrame = {
    val t = coalesce(text, lit(""))
    val upper = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val digits = "0123456789"
    val nUpper = (length(t) - length(translate(t, upper, ""))).cast("double")
    val nLower = (length(t) - length(translate(t, lower, ""))).cast("double")
    val nDigit = (length(t) - length(translate(t, digits, ""))).cast("double")
    val lines = split(t, "\n")
    val nBullet = size(filter(lines, l => trim(l).rlike("^[-*•]")))
    val alpha = nUpper + nLower
    df.withColumn("upper_ratio", when(alpha > 0, round(nUpper / alpha, 6)).otherwise(lit(0.0)))
      .withColumn(
        "digit_ratio",
        when(length(t) > 0, round(nDigit / length(t).cast("double"), 6)).otherwise(lit(0.0))
      )
      .withColumn(
        "bullet_frac",
        round(nBullet.cast("double") / size(lines).cast("double"), 6)
      )
      .withColumn(
        "is_shouty",
        alpha > 0 && nUpper / alpha > shoutyThreshold
      )
  }

  /** Flesch reading-ease score — the classic readability quality signal:
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words), with
    * syllables estimated as vowel-group count floored at one per word
    * (the standard heuristic; maximal `[aeiouyAEIOUY]+` runs never cross
    * whitespace, so the text-wide count equals the per-word sum — one
    * regexp_count pass, no per-word explode). Sentences come from
    * [[sentenceStats]]' contract. Deterministic double arithmetic; zero
    * shuffle. Returns (…, n_words, n_syllables, flesch, reading_grade).
    */
  def readability(df: DataFrame, text: Column): DataFrame = {
    val t = coalesce(text, lit(""))
    val toks = split(t, " ")
    val nWords = size(toks).cast("double")
    // per-WORD floor, computed without an explode: Σ max(1, groups(w)) =
    // total vowel groups + the number of zero-vowel words (numbers,
    // acronyms, punctuation tokens — common in web text, and a global
    // floor would systematically under-count them)
    val groups = regexp_count(t, lit("[aeiouyAEIOUY]+")).cast("double")
    val nZeroVowel = size(filter(toks, w => !w.rlike("[aeiouyAEIOUY]"))).cast("double")
    val nSyl = groups + nZeroVowel
    val withSent = sentenceStats(df, text)
    val nSent = col("n_sentences").cast("double")
    val flesch =
      lit(206.835) - lit(1.015) * (nWords / nSent) - lit(84.6) * (nSyl / nWords)
    withSent
      .withColumn("n_words", nWords.cast("long"))
      .withColumn("n_syllables", nSyl.cast("long"))
      .withColumn("flesch", when(nSent > 0 && nWords > 0, round(flesch, 6)))
      .withColumn(
        "reading_grade",
        when(col("flesch").isNull, "unknown")
          .when(col("flesch") >= 90, "very_easy")
          .when(col("flesch") >= 70, "easy")
          .when(col("flesch") >= 50, "medium")
          .when(col("flesch") >= 30, "hard")
          .otherwise("very_hard")
      )
  }

  /** Dialogue-structure detection — the SFT-data triage signal: a line
    * shaped `Speaker: utterance` is a turn; a document whose lines are
    * mostly turns with ≥ 2 distinct speakers is a dialogue (chat logs,
    * interview transcripts — data that needs the conversation pipeline,
    * not the prose one). One split + array expressions, zero shuffle.
    * Returns (…, n_lines, n_turns, n_speakers, is_dialogue).
    */
  def dialogueStats(df: DataFrame, text: Column, minTurnFrac: Double = 0.5): DataFrame = {
    val t = coalesce(text, lit(""))
    val lines = split(t, "\n")
    val speakers = filter(
      transform(lines, l => regexp_extract(l, "^([A-Z][A-Za-z]*): ", 1)),
      s => s =!= ""
    )
    val nLines = size(lines)
    val nTurns = size(speakers)
    df.withColumn("n_lines", nLines)
      .withColumn("n_turns", nTurns)
      .withColumn("n_speakers", size(array_distinct(speakers)))
      .withColumn(
        "is_dialogue",
        col("n_turns").cast("double") / col("n_lines").cast("double") > minTurnFrac &&
          col("n_speakers") >= 2
      )
  }

  /** Mixed-script token detection — the homoglyph-spoofing audit (a
    * Cyrillic 'о' inside a Latin word is invisible to the eye but
    * poisons dedup keys, URLs, and tokenizers): per doc, count tokens
    * that mix Latin letters with Cyrillic or Greek codepoints. Script
    * membership is regex character-class testing per token (RE2-safe
    * unicode ranges, literal classes — no properties, so any engine
    * replays them). Zero shuffle.
    * Returns (…, n_tokens, n_mixed_script, mixed_frac, has_homoglyphs).
    */
  def mixedScriptStats(df: DataFrame, text: Column): DataFrame = {
    val t = coalesce(text, lit(""))
    // collapse-then-split: a Latin word and a Cyrillic word separated by
    // a NEWLINE must be two tokens, not one falsely-"mixed" token (and
    // collapse-then-split behaves identically in any engine, unlike
    // regex-split edge cases)
    val toks = split(regexp_replace(t, "[ \\t\\n\\r]+", " "), " ")
    val latin = "[A-Za-z]"
    val confusable = "[Ѐ-ӿͰ-Ͽ]" // Cyrillic + Greek blocks
    val mixed = filter(toks, tok => tok.rlike(latin) && tok.rlike(confusable))
    val nTok = size(toks)
    val nMixed = size(mixed)
    df.withColumn("n_tokens", nTok)
      .withColumn("n_mixed_script", nMixed)
      .withColumn(
        "mixed_frac",
        when(nTok > 0, round(nMixed.cast("double") / nTok.cast("double"), 6)).otherwise(lit(0.0))
      )
      .withColumn("has_homoglyphs", nMixed > 0)
  }

  /** Markdown → training text ([[htmlExtract]]'s sibling for the
    * documentation/README slice of a code corpus): drop fenced code
    * blocks (counted, not silently — code belongs in the code pipeline,
    * not the prose pipeline), unwrap inline code and links to their
    * text, strip ATX header markers, collapse whitespace. All RE2-safe
    * single regexes (non-greedy + (?s)/(?m) only), zero shuffle.
    * Returns (doc_id, n_code_blocks, n_links, extracted).
    */
  def markdownExtract(df: DataFrame, idCol: Column, md: Column): DataFrame = {
    val m = coalesce(md, lit(""))
    val noFence = regexp_replace(m, "(?s)```.*?```", " ")
    val noInline = regexp_replace(noFence, "`([^`]*)`", "$1")
    val noLink = regexp_replace(noInline, "\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
    val noHdr = regexp_replace(noLink, "(?m)^#{1,6} *", "")
    df.select(
      idCol.as("doc_id"),
      regexp_count(m, lit("(?s)```.*?```")).as("n_code_blocks"),
      regexp_count(m, lit("\\[([^\\]]*)\\]\\([^)]*\\)")).as("n_links"),
      trim(regexp_replace(noHdr, "[ \\t\\n\\r]+", " ")).as("extracted")
    )
  }

  /** Structural (alpha-renamed) code canonicalization: identifiers are
    * rewritten to `v<k>` where k is the identifier's FIRST-OCCURRENCE rank
    * inside the document, so two functions that differ only in naming
    * collapse to the same canonical string / digest — the code-corpus
    * sibling of [[normalizeText]]-keyed dedup (compose with `Dedup.exact`
    * on the returned `canonical`).
    *
    * Tokenization is pre-split whitespace tokens; a token is an identifier
    * iff it matches `^[A-Za-z_][A-Za-z0-9_]*$` and is not in `keywords`
    * (the lexer's keyword table — keywords and punctuation survive
    * verbatim, as do numeric literals, which are usually semantic).
    *
    * Scale shape: first-occurrence ranks come from the relational path —
    * explode to (id, token, pos), min(pos) per (id, token), rank via
    * row_number partitioned by id — so the shuffle carries (id, token,
    * int) triples, never the document text; the per-doc ordered identifier
    * list (bounded by the doc's distinct-identifier count) joins back on
    * id and the rewrite itself is an in-row array transform. A per-doc
    * window sort over distinct identifiers is O(idents log idents) per
    * task with WindowGroupLimit-free bounded state — fine at any corpus
    * size because partitions are keyed by doc id.
    */
  def alphaRename(
      df: DataFrame,
      idCol: Column,
      codeCol: Column,
      keywords: Seq[String] = Seq("def", "return", "if", "else", "for", "while", "in", "lambda")
  ): DataFrame = {
    val identRe = "^[A-Za-z_][A-Za-z0-9_]*$"
    val isIdent = (t: Column) => t.rlike(identRe) && !t.isin(keywords.map(x => x: Any): _*)
    val base = df.select(idCol.as("__arid"), codeCol.as("__arcode"))
    val toks = base.select(
      col("__arid"),
      posexplode(split(col("__arcode"), " ")).as(Seq("pos", "tok"))
    )
    val firsts = toks
      .filter(isIdent(col("tok")))
      .groupBy(col("__arid"), col("tok"))
      .agg(min(col("pos")).as("first_pos"))
    val ordered = firsts
      .withColumn(
        "rk",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("__arid"))
            .orderBy(col("first_pos"))
        )
      )
      .groupBy(col("__arid"))
      .agg(
        array_sort(collect_list(struct(col("rk"), col("tok")))).as("__arpairs")
      )
      .select(
        col("__arid"),
        transform(col("__arpairs"), p => p.getField("tok")).as("__aridents")
      )
    base
      .join(ordered, Seq("__arid"), "left")
      .select(
        col("__arid").as("doc_id"),
        coalesce(col("__aridents"), array().cast("array<string>")).as("__ids"),
        col("__arcode")
      )
      .select(
        col("doc_id"),
        size(col("__ids")).as("n_idents"),
        array_join(
          transform(
            split(col("__arcode"), " "),
            t =>
              when(isIdent(t), concat(lit("v"), array_position(col("__ids"), t).cast("string")))
                .otherwise(t)
          ),
          " "
        ).as("canonical")
      )
      .withColumn("fp", md5(col("canonical")))
  }

  /** Interpolated Kneser–Ney bigram probabilities (Kneser & Ney 1995;
    * absolute discount D, the fixed-D variant) trained over the corpus and
    * reported for the top-k bigrams:
    *
    *   P_kn(w2|w1) = max(c(w1w2) − D, 0)/c(w1·) + D · N1+(w1·)/c(w1·) · P_cont(w2)
    *   P_cont(w2)  = N1+(·w2) / N1+(··)
    *
    * where c(w1·) = Σ_w2 c(w1w2) (occurrences of w1 in non-final
    * position), N1+(w1·)/N1+(·w2) are distinct continuation/ history type
    * counts and N1+(··) the number of distinct bigram types.
    *
    * Scale shape: ONE corpus pass explodes bigrams into a two-level
    * partial aggregation keyed by the (w1, w2) pair; every derived table
    * (per-w1 totals, per-w2 continuation counts, the scalar type count)
    * re-aggregates the already-vocabulary-sized bigram table, and the two
    * final joins are vocabulary-keyed (AQE broadcasts the small side).
    * Top-k is TakeOrderedAndProject on (count desc, w1, w2) — never a
    * global sort. All probability inputs are exact integers; the single
    * double formula rounds 6dp at the end. `topK <= 0` returns the FULL
    * scored bigram table unordered (the stress path asserts
    * Σ_w2 P_kn(w2|w1) ≡ 1 per history — an identity of the interpolated
    * form — which needs every continuation of a history).
    */
  def knBigram(
      df: DataFrame,
      textCol: Column,
      discount: Double = 0.75,
      topK: Int = 20
  ): DataFrame = {
    val t = df.select(split(textCol, " ").as("tk"))
    val bi = t
      .select(
        posexplode(slice(col("tk"), lit(1), greatest(size(col("tk")) - 1, lit(0))))
          .as(Seq("i", "w1")),
        col("tk")
      )
      .select(col("w1"), element_at(col("tk"), col("i") + 2).as("w2"))
    val big = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c")).transform(graft.runtime.GraftCheckpoint.pin)
    val hist = big.groupBy(col("w1")).agg(sum(col("c")).as("c1"), count(lit(1)).as("n_fol"))
    val cont = big.groupBy(col("w2")).agg(count(lit(1)).as("n_pre"))
    val nTypes = big.agg(count(lit(1)).as("n_types"))
    val scored = big
      .join(hist, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(nTypes))
      .select(
        col("w1"),
        col("w2"),
        col("c"),
        round(
          greatest(col("c") - discount, lit(0.0)) / col("c1") +
            lit(discount) * col("n_fol") / col("c1") *
            (col("n_pre").cast("double") / col("n_types")),
          6
        ).as("p_kn")
      )
    if (topK <= 0) scored
    else scored.orderBy(col("c").desc, col("w1"), col("w2")).limit(topK)
  }

  /** Multi-category lexicon scoring (the C4 "bad words" / Gopher safety
    * filter generalized to CATEGORIES): one [[blocklistGate]]-style
    * pattern per category, each scored per document — hits, hit density
    * per 100 words — plus an overall `flagged` verdict when any category
    * reaches its threshold. Per-edge word-boundary anchoring and
    * RE2-safe escaping are [[blocklistGate]]'s (one shared helper), so
    * every pattern replays verbatim in the oracle engine.
    *
    * Scale shape: one zero-shuffle projection; k categories = k codegen'd
    * regexp_count columns riding the same scan. Lexicons are library
    * constants (broadcast with the closure), never a joined table.
    */
  def lexiconCategories(
      df: DataFrame,
      idCol: Column,
      text: Column,
      categories: Map[String, Seq[String]],
      maxHitsPer100Words: Double = 1.0
  ): DataFrame = {
    require(categories.nonEmpty, "need at least one category")
    // category names become column names (<name>_hits/_per100w): restrict
    // to identifier-safe charset so dots/backticks can't break col()
    // resolution, and forbid the reserved output names
    categories.keys.foreach { name =>
      require(
        name.matches("[A-Za-z0-9_]+"),
        s"category name must match [A-Za-z0-9_]+, got '$name'"
      )
      require(
        name != "doc_id" && name != "flagged",
        s"category name '$name' collides with an output column"
      )
    }
    val t = lower(coalesce(text, lit("")))
    val words = size(split(t, "\\s+")).cast("double")
    val cats = categories.toSeq.sortBy(_._1)
    val hitCols = cats.map { case (name, phrases) =>
      regexp_count(t, lit(phrasePattern(phrases))).as(s"${name}_hits")
    }
    val densityCols = cats.map { case (name, _) =>
      round(col(s"${name}_hits") * 100.0 / greatest(col("__w"), lit(1.0)), 6)
        .as(s"${name}_per100w")
    }
    val flagged = cats
      .map { case (name, _) => col(s"${name}_per100w") >= maxHitsPer100Words }
      .reduce(_ || _)
    df.select(idCol.as("doc_id") +: words.as("__w") +: hitCols: _*)
      .select(col("*") +: densityCols: _*)
      .withColumn("flagged", flagged)
      .drop("__w")
  }

  /** Fill-in-the-middle transformation (Bavarian et al. 2022, "Efficient
    * Training of Language Models to Fill in the Middle" — the code-model
    * data-prep pass): deterministically rearrange a `fimRate` fraction of
    * documents into PSM (`<PRE>prefix<SUF>suffix<MID>middle`) or, with
    * probability `spmRate` among those, SPM
    * (`<PRE><SUF>suffix<MID>prefix⊕middle` — the paper's joined SPM
    * encoding); the rest (and any document shorter than `minChars`) pass
    * through as `plain`, counted, never silently dropped.
    *
    * Randomness is [[CorpusOps.hashUniform]] over salted ids (md5-based),
    * so the choice of mode and both character cut points replay bit-equal
    * in any engine — the x21/x51 split discipline. Two independent cuts
    * in [1, len−1] are ordered into c1 ≤ c2; equal cuts yield an empty
    * middle (a legal FIM example teaching end-of-infill). Zero shuffle:
    * one in-row projection.
    *
    * Output: id, `mode` (psm|spm|plain), `fim_text`, `n_chars`,
    * `cut1`/`cut2` (null for plain).
    */
  def fimTransform(
      df: DataFrame,
      idCol: Column,
      text: Column,
      fimRate: Double = 0.9,
      spmRate: Double = 0.5,
      minChars: Int = 20,
      pre: String = "<PRE>",
      suf: String = "<SUF>",
      mid: String = "<MID>"
  ): DataFrame = {
    require(fimRate >= 0 && fimRate <= 1 && spmRate >= 0 && spmRate <= 1)
    require(minChars >= 2, "need at least 2 chars to cut twice")
    val t = coalesce(text, lit(""))
    val len = length(t)
    def u(salt: String): Column =
      CorpusOps.hashUniform(concat(idCol.cast("string"), lit(s":$salt")))
    val isFim = len >= minChars && u("fim") < fimRate
    val isSpm = u("spm") < spmRate
    val cutA = (lit(1) + floor(u("c1") * (len - 1).cast("double")).cast("int"))
    val cutB = (lit(1) + floor(u("c2") * (len - 1).cast("double")).cast("int"))
    val c1 = least(cutA, cutB)
    val c2 = greatest(cutA, cutB)
    val prefix = t.substr(lit(1), c1)
    val middle = t.substr(c1 + 1, c2 - c1)
    val suffix = t.substr(c2 + 1, len - c2)
    val psm = concat(lit(pre), prefix, lit(suf), suffix, lit(mid), middle)
    val spm = concat(lit(pre), lit(suf), suffix, lit(mid), prefix, middle)
    df.select(
      idCol.as("doc_id"),
      when(!isFim, lit("plain")).when(isSpm, lit("spm")).otherwise(lit("psm")).as("mode"),
      when(!isFim, t).when(isSpm, spm).otherwise(psm).as("fim_text"),
      len.as("n_chars"),
      when(isFim, c1).as("cut1"),
      when(isFim, c2).as("cut2")
    )
  }

  /** T5-style span corruption (Raffel 2020 §3.1.4, the denoising-objective
    * data transform): mask two non-overlapping spans with sentinel tokens
    * and emit the (input, targets) training pair. Like [[fimTransform]],
    * every draw is an md5-salted uniform keyed on the document id, so the
    * transform is deterministic, shardable, and replayable by any engine —
    * no RNG state, zero shuffle, pure in-row substring arithmetic.
    *
    * Span placement: one span per document half (span length =
    * ⌊len·rate/2⌋, floored at 1), each offset by its own uniform inside
    * its half — non-overlap holds by construction, no rejection loop.
    * Documents under `minChars` pass through unmasked as mode `plain`
    * (counted, never dropped — the load-shed discipline).
    *
    * Output: `doc_id`, `mode` (plain|corrupt), `input` (text with spans
    * replaced by sentinels), `targets` (sentinel-prefixed span contents),
    * `n_masked` (chars masked), `n_chars`.
    */
  def spanCorrupt(
      df: DataFrame,
      idCol: Column,
      text: Column,
      rate: Double = 0.15,
      minChars: Int = 40,
      sentinel0: String = "<X0>",
      sentinel1: String = "<X1>"
  ): DataFrame = {
    require(rate > 0 && rate < 1, s"rate must be in (0,1), got $rate")
    require(minChars >= 8, "need at least 8 chars to place two spans")
    val t = coalesce(text, lit(""))
    val len = length(t)
    def u(salt: String): Column =
      CorpusOps.hashUniform(concat(idCol.cast("string"), lit(s":$salt")))
    val isCorrupt = len >= minChars
    val half = floor(len / lit(2)).cast("int")
    val spanLen = greatest(lit(1), floor(len.cast("double") * lit(rate / 2)).cast("int"))
    // starts are 1-based; each span fits strictly inside its own half
    val s1 = lit(1) + floor(u("s1") * (half - spanLen).cast("double")).cast("int")
    val s2 = half + lit(1) + floor(u("s2") * (half - spanLen).cast("double")).cast("int")
    val span1 = t.substr(s1, spanLen)
    val span2 = t.substr(s2, spanLen)
    val corrupted = concat(
      t.substr(lit(1), s1 - 1),
      lit(sentinel0),
      t.substr(s1 + spanLen, s2 - s1 - spanLen),
      lit(sentinel1),
      t.substr(s2 + spanLen, len - s2 - spanLen + 1)
    )
    val targets = concat(lit(sentinel0), span1, lit(sentinel1), span2)
    df.select(
      idCol.as("doc_id"),
      when(isCorrupt, lit("corrupt")).otherwise(lit("plain")).as("mode"),
      when(isCorrupt, corrupted).otherwise(t).as("input"),
      when(isCorrupt, targets).as("targets"),
      when(isCorrupt, spanLen * 2).otherwise(lit(0)).as("n_masked"),
      len.as("n_chars")
    )
  }

  /** ROUGE-N between a candidate and a reference text per row (Lin 2004,
    * "ROUGE: A Package for Automatic Evaluation of Summaries" §2 —
    * clipped/multiset n-gram overlap): the self-instruct near-duplicate
    * filter (Wang et al. 2022 apply ROUGE similarity to drop generated
    * instructions too close to the pool) and the summarization-eval
    * baseline. overlap = Σ_g min(count_cand(g), count_ref(g));
    * precision = overlap/|cand grams|, recall = overlap/|ref grams|,
    * f1 = 2pr/(p+r) — 6dp, zero-gram and zero-overlap guarded to 0.0.
    * Whitespace word tokens; texts shorter than `n` tokens have zero
    * grams on that side. A pair with zero grams on BOTH sides has
    * nothing to score and is ABSENT from the output (not a zero row) —
    * callers needing those pairs accounted left-join back on the id.
    *
    * Shape at 100 TB: both sides explode to (pair, gram, count) via a
    * partial-aggregating groupBy (map-side combine collapses repeated
    * grams BEFORE the exchange), overlap is a full-outer join on
    * (pair, gram) — hash-partitioned on the pair+gram key, so one pair's
    * grams spread over the cluster rather than one task — and the final
    * per-pair reduce is a second partial agg. No DP, no quadratic
    * kernel: ROUGE-N is pure multiset arithmetic.
    */
  def rougeN(
      df: DataFrame,
      idCol: Column,
      candCol: Column,
      refCol: Column,
      n: Int
  ): DataFrame = {
    require(n >= 1 && n <= 8, s"n must be in [1,8], got $n")
    // native shingle kernel (one tokenize pass; the interpreted
    // transform+slice HOF twin re-splits per position, the measured x6
    // trap) — with the short-text case pinned to ROUGE semantics: fewer
    // than n tokens = ZERO grams, not word_shingles' whole-text shingle
    def grams(text: Column, side: String): Column =
      when(size(split(text, " ")) < n, array().cast("array<string>"))
        .otherwise(graft.functions.text.word_shingles(text, n))
        .as(side)
    val base = df
      .filter(candCol.isNotNull && refCol.isNotNull)
      .select(idCol.as("pair_id"), grams(candCol, "__cg"), grams(refCol, "__rg"))
    // ONE tagged explode instead of two per-side count aggregations glued
    // by a full-outer join: each gram carries a side bit in-row, so the
    // per-(pair, gram) cand/ref counts come out of a single
    // partial-aggregating exchange — the corpus is tokenized once, the
    // (pair_id, gram) full-outer exchange disappears, and the output is
    // row-identical (a gram present on only one side sums 0 on the other,
    // exactly the old coalesce).
    val tagged = base.select(
      col("pair_id"),
      explode(
        concat(
          transform(col("__cg"), g => struct(g.as("gram"), lit(1L).as("c"))),
          transform(col("__rg"), g => struct(g.as("gram"), lit(0L).as("c")))
        )
      ).as("t")
    )
    val joined = tagged
      .groupBy(col("pair_id"), col("t.gram").as("gram"))
      .agg(sum(col("t.c")).as("nc"), sum(lit(1L) - col("t.c")).as("nr"))
      .groupBy(col("pair_id"))
      .agg(
        sum(col("nc")).as("n_cand"),
        sum(col("nr")).as("n_ref"),
        sum(least(col("nc"), col("nr"))).as("overlap")
      )
    val p = when(col("n_cand") > 0, col("overlap").cast("double") / col("n_cand")).otherwise(lit(0.0))
    val rc = when(col("n_ref") > 0, col("overlap").cast("double") / col("n_ref")).otherwise(lit(0.0))
    joined.select(
      col("pair_id"),
      col("n_cand"),
      col("n_ref"),
      col("overlap"),
      round(p, 6).as("precision"),
      round(rc, 6).as("recall"),
      round(when(p + rc > 0, lit(2.0) * p * rc / (p + rc)).otherwise(lit(0.0)), 6).as("f1")
    )
  }

  /** Special-token / chat-template leakage audit: counts occurrences of
    * literal control sequences (`<|im_start|>`, `<|endoftext|>`,
    * `[INST]`, `### Instruction:` …) that must NEVER appear in
    * pretraining text — template tokens leaking from synthetic or
    * scraped-chat data teach the model to emit its own control syntax
    * (the "special token injection" failure class every tokenizer card
    * warns about). Returns one row per probe token:
    * `(token, n_docs, n_hits)`, all probes present even at zero (absence
    * must be evidenced, not inferred).
    *
    * Shape at 100 TB: one zero-shuffle projection computes ALL probe
    * counts per doc (k literal-regex `regexp_count` columns — probes are
    * literals, regex-escaped, no backtracking), one partial-aggregating
    * reduce to a single row of 2k sums, then a driver-side unpivot of
    * that one bounded row. The corpus is scanned once, nothing but the
    * 2k-cell row crosses the wire.
    */
  def specialTokenScan(df: DataFrame, textCol: Column, tokens: Seq[String]): DataFrame = {
    require(tokens.nonEmpty, "need at least one probe token")
    require(tokens.distinct.size == tokens.size, s"probe tokens must be distinct: $tokens")
    val t = coalesce(textCol, lit(""))
    val aggs = tokens.zipWithIndex.flatMap { case (tok, i) =>
      val cnt = regexp_count(t, lit(java.util.regex.Pattern.quote(tok)))
      // coalesce: a zero-row corpus must read 0, not a null sum — the
      // zero-row-evidenced contract holds even on an empty scan
      Seq(
        coalesce(sum(when(cnt > 0, 1L).otherwise(0L)), lit(0L)).as(s"__d$i"),
        coalesce(sum(cnt.cast("long")), lit(0L)).as(s"__h$i")
      )
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val pairs = tokens.zipWithIndex.map { case (tok, i) =>
      struct(lit(tok).as("token"), col(s"__d$i").as("n_docs"), col(s"__h$i").as("n_hits"))
    }
    one
      .select(explode(array(pairs: _*)).as("r"))
      .select(col("r.token"), col("r.n_docs"), col("r.n_hits"))
  }
}
