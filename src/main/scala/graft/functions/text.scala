package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native text expressions for the dedup operators. */
object text {

  /** Word n-gram shingles → array&lt;string&gt;; docs shorter than `n`
    * tokens yield their whole (space-rejoined) text as the single shingle.
    *
    * Semantics are bit-equal to the declarative formulation
    * `transform(sequence(1, size(toks)-n+1), i -> concat_ws(" ",
    * slice(toks, i, n)))` with `toks = split(text, " ")` — but that plan
    * re-evaluates `split(text)` INSIDE the interpreted lambda, once per
    * shingle position (O(len²) per document, measured ~6.5 s of the 8.6 s
    * x6 runtime at sf0.1). This tokenizes once per row.
    */
  case class WordShingles(child: Expression, n: Int)
      extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    require(n >= 1, "shingle width must be >= 1")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true

    private val space = UTF8String.fromString(" ")

    /** Invoked from both eval and generated code. */
    def compute(s: UTF8String): GenericArrayData = {
      // same tokenization as split(text, " ") (regex split, limit -1)
      val toks = s.split(space, -1)
      val count = toks.length - (n - 1)
      if (count <= 0) {
        new GenericArrayData(Array[Any](UTF8String.concatWs(space, toks: _*)))
      } else {
        val out = new Array[Any](count)
        var i = 0
        while (i < count) {
          val win = new Array[UTF8String](n)
          System.arraycopy(toks, i, win, 0, n)
          out(i) = UTF8String.concatWs(space, win: _*)
          i += 1
        }
        new GenericArrayData(out)
      }
    }

    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("wordShingles", this, classOf[WordShingles].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
    }
    override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
  }

  def word_shingles(textCol: Column, n: Int): Column =
    Bridge.column(WordShingles(Bridge.expression(textCol), n))

  /** MinHash signature of a shingle array → array&lt;long&gt; of
    * `numHashes` minima, in ONE pass per row — no explode, no
    * aggregation, NO SHUFFLE for signatures (the declarative explode +
    * 32-min-agg formulation shuffles an (id, 32-long) row per doc and pays
    * agg machinery per exploded shingle; measured 86 s for the 1M-doc
    * stress, dominated by that stage).
    *
    * Hash chain is bit-identical to the declarative twin:
    * token hash `h = xxhash64(tok)` = XXH64(utf8 bytes, seed 42); per-seed
    * value `xxhash64(lit(seed), h)` = hashLong(h, hashInt(seed, 42)).
    * The per-seed bases are precomputed once per expression instance.
    */
  case class MinHashSig(child: Expression, numHashes: Int)
      extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    require(numHashes >= 1, "numHashes must be >= 1")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true

    @transient private lazy val seedBases: Array[Long] = {
      val a = new Array[Long](numHashes)
      var s = 0
      while (s < numHashes) {
        a(s) = org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(s, 42L)
        s += 1
      }
      a
    }

    /** Invoked from both eval and generated code. */
    def compute(arr: org.apache.spark.sql.catalyst.util.ArrayData): GenericArrayData = {
      val bases = seedBases
      val mins = Array.fill[Long](numHashes)(Long.MaxValue)
      val n = arr.numElements()
      var j = 0
      while (j < n) {
        val tok = arr.getUTF8String(j)
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(tok.getBaseObject, tok.getBaseOffset, tok.numBytes(), 42L)
        var s = 0
        while (s < numHashes) {
          val v = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(h, bases(s))
          if (v < mins(s)) mins(s) = v
          s += 1
        }
        j += 1
      }
      new GenericArrayData(mins)
    }

    override def nullSafeEval(v: Any): Any =
      compute(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("minhashSig", this, classOf[MinHashSig].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
    }
    override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
  }

  def minhash_sig(shinglesCol: Column, numHashes: Int): Column =
    Bridge.column(MinHashSig(Bridge.expression(shinglesCol), numHashes))

  /** SimHash 64-bit fingerprint of a token array (Charikar '02 / Manku
    * WWW'07): per token hash, each of the 64 bit positions votes ±1, bit =
    * sign of the vote sum — ONE pass per row, replacing the explode + 64
    * conditional-sum aggregates (and their per-doc shuffle). Bit-identical
    * to the declarative twin: token hash = xxhash64(tok) (utf8 bytes,
    * seed 42), vote b from bit b of the hash, ties (vote sum 0) → 0.
    */
  case class SimHash64(child: Expression)
      extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true

    /** Invoked from both eval and generated code. */
    def compute(arr: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
      val votes = new Array[Int](64)
      val n = arr.numElements()
      var j = 0
      while (j < n) {
        val tok = arr.getUTF8String(j)
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(tok.getBaseObject, tok.getBaseOffset, tok.numBytes(), 42L)
        var b = 0
        while (b < 64) {
          if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        j += 1
      }
      var sig = 0L
      var b = 0
      while (b < 64) { if (votes(b) > 0) sig |= 1L << b; b += 1 }
      sig
    }

    override def nullSafeEval(v: Any): Any =
      compute(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("simhash64", this, classOf[SimHash64].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
    }
    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
  }

  def simhash64(tokensCol: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(tokensCol)))

  /** Fused PII audit + redaction: ONE expression returning
    * struct&lt;n_emails, n_ips, n_phones: int, redacted: string&gt; with
    * the exact semantics of the declarative
    * [[graft.operators.TextOps.piiCounts]] + `redactPii` chain (each
    * pattern counted on the text its replacement pass sees; bit-equality
    * asserted in ClusterCurationSpec).
    *
    * Why an expression and not the regexp_* composition: the declarative
    * form is ~12 independent regex expression trees (3 counts on 3
    * progressively-redacted texts + 3 replaces + shared subtrees). Each
    * tree pays its own UTF8String↔String decode/encode of the document
    * and its own scan, the generated projection balloons past what
    * HotSpot will JIT, and measured throughput collapsed to ~5 MBps/32
    * cores at 5 M docs where a plain JVM loop over the same patterns does
    * ~10 MB/s/core. Here: one decode, three compiled-pattern passes each
    * doing count+replace in a single matcher walk, one encode — the
    * pure-JVM rate, with a one-call codegen footprint.
    */
  case class PiiScrub(child: Expression)
      extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = StructType(Seq(
      StructField("n_emails", IntegerType, nullable = false),
      StructField("n_ips", IntegerType, nullable = false),
      StructField("n_phones", IntegerType, nullable = false),
      StructField("redacted", StringType, nullable = false)
    ))
    override def nullIntolerant: Boolean = true

    // Pattern is thread-safe and compiled once per expression instance;
    // Matchers are per-call (instances are shared across a plan's tasks)
    @transient private lazy val patterns: Array[java.util.regex.Pattern] = Array(
      java.util.regex.Pattern.compile(graft.operators.TextOps.emailPattern),
      java.util.regex.Pattern.compile(graft.operators.TextOps.ipv4Pattern),
      java.util.regex.Pattern.compile(graft.operators.TextOps.phonePattern)
    )
    private val tokens = Array("<EMAIL>", "<IP>", "<PHONE>")

    /** Invoked from both eval and generated code. */
    def compute(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
      var text = s.toString
      val counts = new Array[Any](4)
      var i = 0
      while (i < 3) {
        val m = patterns(i).matcher(text)
        var c = 0
        if (m.find()) {
          // count + replace in one matcher walk (replacement literals
          // contain no $/\ so appendReplacement needs no quoting)
          val sb = new java.lang.StringBuilder(text.length)
          do { c += 1; m.appendReplacement(sb, tokens(i)) } while (m.find())
          m.appendTail(sb)
          text = sb.toString
        }
        counts(i) = c
        i += 1
      }
      counts(3) = UTF8String.fromString(text)
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(counts)
    }

    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("piiScrub", this, classOf[PiiScrub].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
    }
    override protected def withNewChildInternal(c: Expression): PiiScrub = copy(child = c)
  }

  def pii_scrub(textCol: Column): Column =
    Bridge.column(PiiScrub(Bridge.expression(textCol)))

  /** Karp-Rabin rolling fingerprint over space-separated tokens, base 257
    * mod 2^31−1 — ONE native pass, bit-equal to the declarative
    * `aggregate(split(text, " "), 0L, (acc, tok) -> pmod(acc*257 +
    * pmod(xxhash64(tok), M), M))` twin (asserted in ClusterCurationSpec):
    * same split semantics (single-space regex, empties kept), same
    * per-token hash (XXH64 of utf8 bytes, seed 42), same fold. The
    * declarative form runs its lambda INTERPRETED per token (the known
    * Spark HOF behavior, ROUND_NOTES r1) — fine at oracle scale, wrong
    * for a corpus-wide fingerprint pass at 100 TB.
    */
  case class RollingFp(child: Expression)
      extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true

    private val mod = 2147483647L // 2^31 - 1

    /** Invoked from both eval and generated code. */
    def compute(s: UTF8String): Long = {
      // literal-space split, -1 limit: exactly Spark's split(text, " ")
      val toks = s.toString.split(" ", -1)
      var acc = 0L
      var i = 0
      while (i < toks.length) {
        val t = UTF8String.fromString(toks(i))
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes(), 42L)
        val p = ((h % mod) + mod) % mod // pmod of a possibly-negative hash
        acc = (acc * 257 + p) % mod // acc*257+p < 2^40: no overflow
        i += 1
      }
      acc
    }

    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("rollingFp", this, classOf[RollingFp].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
    }
    override protected def withNewChildInternal(c: Expression): RollingFp = copy(child = c)
  }

  def rolling_fp(textCol: Column): Column =
    Bridge.column(RollingFp(Bridge.expression(textCol)))

  /** Token-distribution Shannon entropy + token count in ONE tokenize
    * pass → struct(n_tokens long, entropy double), entropy in the
    * ln(n) − (Σ tf·ln tf)/n form of
    * [[graft.operators.TextOps.tokenEntropy]]. The declarative
    * formulation is a two-exchange (doc,token)→(doc) aggregation —
    * correct, but it shuffles one row per DISTINCT TOKEN of the corpus
    * (≈190 M rows at 5 M docs) to compute what is a per-row quantity.
    * This is a zero-shuffle projection: one HashMap of the row's own
    * distinct tokens, O(row) state, inside WholeStageCodegen. Summation
    * ORDER differs from any SQL twin (map iteration vs engine agg), so
    * equality holds at 6dp rounding, not bit-level — same contract as
    * the x40 oracle.
    */
  case class TokenEntropy(child: Expression)
      extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = StructType(
      Seq(StructField("n_tokens", LongType, nullable = false),
          StructField("entropy", DoubleType, nullable = false))
    )
    override def nullIntolerant: Boolean = true

    /** Invoked from both eval and generated code. */
    def compute(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
      val toks = s.toString.split(" ", -1)
      val n = toks.length
      val counts = new java.util.HashMap[String, Int](math.min(n * 2, 1 << 16))
      var i = 0
      while (i < n) {
        counts.merge(toks(i), 1, (a, b) => a + b)
        i += 1
      }
      var acc = 0.0
      val it = counts.values().iterator()
      while (it.hasNext) {
        val c = it.next().toDouble
        acc += c * math.log(c)
      }
      val entropy = math.log(n.toDouble) - acc / n
      org.apache.spark.sql.catalyst.InternalRow(n.toLong, entropy)
    }

    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("tokenEntropy", this, classOf[TokenEntropy].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
    }
    override protected def withNewChildInternal(c: Expression): TokenEntropy = copy(child = c)
  }

  def token_entropy(textCol: Column): Column =
    Bridge.column(TokenEntropy(Bridge.expression(textCol)))

  /** Per-row word counts → map&lt;string,int&gt; in ONE tokenize pass —
    * the kernel that deletes the (doc, token) exchange from term-count
    * pipelines ([[graft.operators.CorpusOps.tfidfTopTerms]]): a document's
    * token multiset is a per-row quantity, so `groupBy(doc, term)` —
    * which moves one row per distinct token of the corpus — is wasted
    * data movement. First-seen key order (LinkedHashMap), exact integer
    * counts: `explode(word_counts(text))` is row-for-row equal to the
    * `explode(split) → groupBy(doc, term) → count` formulation.
    */
  case class WordCounts(child: Expression)
      extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType =
      MapType(StringType, IntegerType, valueContainsNull = false)
    override def nullIntolerant: Boolean = true

    /** Invoked from both eval and generated code. */
    def compute(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayBasedMapData = {
      val toks = s.toString.split(" ", -1)
      val counts = new java.util.LinkedHashMap[String, Int](math.min(toks.length * 2, 1 << 16))
      var i = 0
      while (i < toks.length) {
        counts.merge(toks(i), 1, (a, b) => a + b)
        i += 1
      }
      val keys = new Array[Any](counts.size())
      val vals = new Array[Any](counts.size())
      val it = counts.entrySet().iterator()
      var j = 0
      while (it.hasNext) {
        val e = it.next()
        keys(j) = UTF8String.fromString(e.getKey)
        vals(j) = e.getValue
        j += 1
      }
      new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        new GenericArrayData(keys),
        new GenericArrayData(vals)
      )
    }

    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("wordCounts", this, classOf[WordCounts].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
    }
    override protected def withNewChildInternal(c: Expression): WordCounts = copy(child = c)
  }

  def word_counts(textCol: Column): Column =
    Bridge.column(WordCounts(Bridge.expression(textCol)))

  /** MD5 digest of every k-token sliding window — the metadata pass under
    * [[graft.operators.CorpusOps.dedupSpans]] (Lee et al. 2022 ExactSubstr
    * family). Window at start `s` (0-based) is tokens `[s, s+k)` joined by
    * a single space; a doc with fewer than `k` tokens yields an empty
    * array (it has no window, so it can never be cut). Digests are the raw
    * 16 bytes of standard MD5 over the window's UTF-8 — exactly
    * `unhex(md5(array_join(slice(split(text," "), s+1, k), " ")))` and
    * exactly DuckDB's `md5(...)`, so the corpus-wide duplicated-window SET
    * is identical cross-engine. One tokenize per row; the declarative twin
    * re-evaluates its lambda interpreted per window.
    */
  case class WindowMd5s(child: Expression, k: Int)
      extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    require(k >= 2, s"window width must be >= 2 tokens, got $k")
    override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
    override def nullIntolerant: Boolean = true

    private val space = UTF8String.fromString(" ")

    /** Invoked from both eval and generated code. */
    def compute(s: UTF8String): GenericArrayData = {
      val toks = s.split(space, -1)
      val n = toks.length - (k - 1)
      if (n <= 0) return new GenericArrayData(Array.empty[Any])
      val md = FingerprintMd5.md5()
      val out = new Array[Any](n)
      var st = 0
      while (st < n) {
        val w = UTF8String.concatWs(space, toks.slice(st, st + k).toSeq: _*)
        out(st) = md.digest(w.getBytes)
        st += 1
      }
      new GenericArrayData(out)
    }

    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("windowMd5s", this, classOf[WindowMd5s].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
    }
    override protected def withNewChildInternal(c: Expression): WindowMd5s = copy(child = c)
  }

  def window_md5s(textCol: Column, k: Int): Column =
    Bridge.column(WindowMd5s(Bridge.expression(textCol), k))

  /** Removes every token covered by a duplicated k-window: given the
    * (unsorted, possibly overlapping) window start positions to drop,
    * token `t` is cut iff some start `s` has `s <= t < s+k`. One pass:
    * sort the starts, sweep tokens with a running coverage end — O(T +
    * S log S), no nested scan (the declarative twin's `exists()` per token
    * is O(T·S) interpreted). Returns `struct(text, n_tokens, n_kept)`;
    * `text` is the kept tokens re-joined by a single space (`""` when
    * everything was cut).
    */
  case class CutSpans(left: Expression, right: Expression, k: Int)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType, ArrayType(IntegerType))
    require(k >= 2, s"window width must be >= 2 tokens, got $k")
    override def dataType: DataType = StructType(
      Seq(
        StructField("text", StringType, nullable = false),
        StructField("n_tokens", LongType, nullable = false),
        StructField("n_kept", LongType, nullable = false)
      )
    )
    override def nullIntolerant: Boolean = true

    private val space = UTF8String.fromString(" ")

    /** Invoked from both eval and generated code. */
    def compute(s: UTF8String, startsData: org.apache.spark.sql.catalyst.util.ArrayData)
        : org.apache.spark.sql.catalyst.InternalRow = {
      val toks = s.split(space, -1)
      val starts = startsData.toIntArray()
      java.util.Arrays.sort(starts)
      val kept = new Array[UTF8String](toks.length)
      var nKept = 0
      var p = 0
      var coverEnd = -1
      var t = 0
      while (t < toks.length) {
        while (p < starts.length && starts(p) <= t) {
          val e = starts(p) + k
          if (e > coverEnd) coverEnd = e
          p += 1
        }
        if (t >= coverEnd) { kept(nKept) = toks(t); nKept += 1 }
        t += 1
      }
      val text =
        if (nKept == 0) UTF8String.EMPTY_UTF8
        else UTF8String.concatWs(space, kept.take(nKept).toSeq: _*)
      org.apache.spark.sql.catalyst.InternalRow(text, toks.length.toLong, nKept.toLong)
    }

    override def nullSafeEval(l: Any, r: Any): Any =
      compute(
        l.asInstanceOf[UTF8String],
        r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      )
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("cutSpans", this, classOf[CutSpans].getName)
      nullSafeCodeGen(ctx, ev, (l, r) => s"${ev.value} = $ref.compute($l, $r);")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): CutSpans =
      copy(left = l, right = r)
  }

  def cut_spans(textCol: Column, starts: Column, k: Int): Column =
    Bridge.column(CutSpans(Bridge.expression(textCol), Bridge.expression(starts), k))

  /** Canonical text normalization for dedup keys: lowercase + collapse
    * every `[ \t\n\r]+` run to one space + trim — ONE native pass, the
    * canonicalization CCNet/C4-style pipelines apply before hashing so
    * that case and whitespace jitter (the most common benign mutation
    * between crawls of the same page) cannot defeat exact dedup.
    *
    * Semantics are bit-equal to the declarative
    * `trim(regexp_replace(lower(text), "[ \t\n\r]+", " "))` twin
    * (asserted in ClusterCurationSpec). The chain pays a full lowercase
    * materialization plus a regex scan with per-match copying; this is
    * the PiiScrub lesson (ROUND_NOTES r7) applied pre-emptively: one
    * byte walk, zero regex. Lowercasing matches Spark's `lower`
    * (`UTF8String.toLowerCase`); the whitespace walk is byte-safe in
    * UTF-8 (continuation bytes have the high bit set, so they can never
    * alias ASCII space/tab/CR/LF).
    */
  case class NormalizeText(child: Expression)
      extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true

    /** Invoked from both eval and generated code. */
    def compute(s: UTF8String): UTF8String = NormalizeText.compute(s)

    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("normalizeText", this, classOf[NormalizeText].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
    }
    override protected def withNewChildInternal(c: Expression): NormalizeText = copy(child = c)
  }

  object NormalizeText {

    /** The normalization of `s`. */
    def compute(s: UTF8String): UTF8String = {
      val bytes = s.toLowerCase.getBytes
      val n = bytes.length
      val out = new Array[Byte](n)
      var i = 0
      var o = 0
      var pendingSpace = false
      while (i < n) {
        val b = bytes(i)
        if (b == ' ' || b == '\t' || b == '\n' || b == '\r') {
          pendingSpace = o > 0 // leading runs are trimmed, not emitted
        } else {
          if (pendingSpace) { out(o) = ' '; o += 1; pendingSpace = false }
          out(o) = b
          o += 1
        }
        i += 1
      }
      // trailing run: pendingSpace is simply dropped (right trim)
      UTF8String.fromBytes(out, 0, o)
    }
  }

  def normalize_text(textCol: Column): Column =
    Bridge.column(NormalizeText(Bridge.expression(textCol)))

  /** Content fingerprint `md5(normalize_text(text))` as 32 lowercase hex
    * chars, in ONE pass: the [[NormalizeText]] walk lower-cases ASCII and
    * collapses whitespace into a reused per-thread buffer that feeds a
    * per-thread `MessageDigest` as it fills, and the digest is
    * hex-encoded straight into the result. Spark's `md5` over the
    * normalized string would materialize it, take a new `MessageDigest`
    * per row and hex-encode through a temporary string. Input with any
    * non-ASCII byte is hashed over [[NormalizeText.compute]] (Unicode
    * lower-casing), so digests are bit-equal to
    * `md5(normalize_text(text))` everywhere (asserted in
    * ClusterCurationSpec), and stores written before stay valid.
    */
  case class FingerprintMd5(child: Expression)
      extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true

    /** Invoked from both eval and generated code. */
    def compute(s: UTF8String): UTF8String = {
      val md = FingerprintMd5.md5()
      val buf = FingerprintMd5.buffer.get()
      val n = s.numBytes
      var i = 0
      var o = 0
      var started = false
      var pendingSpace = false
      while (i < n) {
        val b = s.getByte(i)
        if (b < 0) { md.reset(); return FingerprintMd5.hex(md.digest(NormalizeText.compute(s).getBytes)) }
        if (b == ' ' || b == '\t' || b == '\n' || b == '\r') {
          pendingSpace = started // leading runs are trimmed, not emitted
        } else {
          if (o + 2 > buf.length) { md.update(buf, 0, o); o = 0 }
          if (pendingSpace) { buf(o) = ' '; o += 1; pendingSpace = false }
          buf(o) = if (b >= 'A' && b <= 'Z') (b + ('a' - 'A')).toByte else b
          o += 1
          started = true
        }
        i += 1
      }
      // trailing run: pendingSpace is simply dropped (right trim)
      md.update(buf, 0, o)
      FingerprintMd5.hex(md.digest())
    }

    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("fingerprintMd5", this, classOf[FingerprintMd5].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
    }
    override protected def withNewChildInternal(c: Expression): FingerprintMd5 = copy(child = c)
  }

  /** The md5 state every md5 kernel here shares: one `MessageDigest` and
    * one normalization buffer per thread, so no row takes a new digest.
    */
  object FingerprintMd5 {

    /** Bytes of normalized text [[FingerprintMd5]] buffers per digest update. */
    private[graft] val BufferBytes = 4096

    private val digest = ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

    private val buffer = ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](BufferBytes))

    /** This thread's md5 `MessageDigest`, reset. */
    def md5(): java.security.MessageDigest = {
      val md = digest.get()
      md.reset()
      md
    }

    private val hexDigits = "0123456789abcdef".getBytes

    /** `d` as lowercase hex, two chars per byte. */
    def hex(d: Array[Byte]): UTF8String = {
      val out = new Array[Byte](2 * d.length)
      var i = 0
      while (i < d.length) {
        out(2 * i) = hexDigits((d(i) >> 4) & 0xf)
        out(2 * i + 1) = hexDigits(d(i) & 0xf)
        i += 1
      }
      UTF8String.fromBytes(out)
    }
  }

  def fingerprint_md5(textCol: Column): Column =
    Bridge.column(FingerprintMd5(Bridge.expression(textCol)))

  /** Longest line length in CHARS (lines = `\n`-separated): one byte pass
    * counting UTF-8 char starts, max run between newlines. The
    * declarative twin `array_max(transform(split(text, "\n"), length))`
    * evaluates its lambda INTERPRETED and kicks the whole projection out
    * of WholeStageCodegen — which also disables subexpression
    * elimination, so every sibling metric re-computes the (possibly
    * expensive) text expression; measured as the difference between a
    * stuck 10-minute stage and a 6-second one on the 5 M-doc code-gate
    * stress. This kernel keeps the projection in codegen.
    */
  case class MaxLineLen(child: Expression)
      extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = IntegerType
    override def nullIntolerant: Boolean = true

    /** Invoked from both eval and generated code. */
    def compute(s: UTF8String): Int = {
      val bytes = s.getBytes
      val n = bytes.length
      var i = 0
      var cur = 0
      var best = 0
      while (i < n) {
        val b = bytes(i)
        if (b == '\n') {
          if (cur > best) best = cur
          cur = 0
        } else if ((b & 0xc0) != 0x80) { // count char starts, not bytes
          cur += 1
        }
        i += 1
      }
      if (cur > best) best = cur
      best
    }

    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("maxLineLen", this, classOf[MaxLineLen].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
    }
    override protected def withNewChildInternal(c: Expression): MaxLineLen = copy(child = c)
  }

  def max_line_len(textCol: Column): Column =
    Bridge.column(MaxLineLen(Bridge.expression(textCol)))

  /** WARC-lite record framing (crawl-archive ingest): split a blob of
    * concatenated records into array&lt;struct&lt;uri, payload, valid&gt;&gt;.
    * Record grammar (a fixed-layout subset of ISO 28500 — the structure
    * and accounting are the contract, a full WARC reader adds headers,
    * not shape):
    *
    * {{{
    * "WARC/1.0\n" "WARC-Target-URI: " uri "\n"
    * "Content-Length: " digits "\n" "\n" payload(len BYTES) "\n\n"
    * }}}
    *
    * Malformed input (bad magic, missing header, non-digit length,
    * truncated payload, absent terminator) emits ONE invalid record —
    * null fields, `valid = false` — and the scanner RESYNCS at the next
    * magic, so one corrupt record never poisons the rest of the blob:
    * the load-shed accounting discipline ([[graft.operators.CorpusOps.jsonlIngest]])
    * applied to framed archives. Content-Length counts BYTES (real WARC
    * semantics), capped at 9 digits. One pass per row inside
    * WholeStageCodegen; the sequential dependency lives INSIDE the row,
    * so blobs parallelize embarrassingly across rows/partitions —
    * exactly [[graft.functions.codecs.FrameSplit]]'s layout argument at
    * the archive-file granularity.
    */
  case class WarcSplit(child: Expression)
      extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("uri", StringType, nullable = true),
        StructField("payload", StringType, nullable = true),
        StructField("valid", BooleanType, nullable = false)
      )),
      containsNull = false
    )
    override def nullIntolerant: Boolean = true

    private val Magic = "WARC/1.0\n".getBytes("UTF-8")
    private val UriH = "WARC-Target-URI: ".getBytes("UTF-8")
    private val LenH = "Content-Length: ".getBytes("UTF-8")

    private def startsWith(b: Array[Byte], at: Int, p: Array[Byte]): Boolean = {
      if (at < 0 || at + p.length > b.length) return false
      var i = 0
      while (i < p.length) { if (b(at + i) != p(i)) return false; i += 1 }
      true
    }
    private def indexOf(b: Array[Byte], from: Int, c: Byte): Int = {
      var i = from
      while (i < b.length) { if (b(i) == c) return i; i += 1 }
      -1
    }
    private def resync(b: Array[Byte], from: Int): Int = {
      var i = from
      while (i <= b.length - Magic.length) {
        if (startsWith(b, i, Magic)) return i
        i += 1
      }
      b.length
    }

    /** Invoked from both eval and generated code. */
    def compute(s: UTF8String): GenericArrayData = {
      val b = s.getBytes
      val n = b.length
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      var i = 0
      while (i < n) {
        var ok = false
        var uri: UTF8String = null
        var payload: UTF8String = null
        var next = i
        if (startsWith(b, i, Magic)) {
          var j = i + Magic.length
          if (startsWith(b, j, UriH)) {
            j += UriH.length
            val e1 = indexOf(b, j, '\n')
            if (e1 >= j) {
              val uriBytes = java.util.Arrays.copyOfRange(b, j, e1)
              j = e1 + 1
              if (startsWith(b, j, LenH)) {
                j += LenH.length
                val e2 = indexOf(b, j, '\n')
                if (e2 > j && e2 - j <= 9) {
                  var len = 0
                  var d = j
                  var digitsOk = true
                  while (d < e2 && digitsOk) {
                    val c = b(d)
                    if (c >= '0' && c <= '9') len = len * 10 + (c - '0')
                    else digitsOk = false
                    d += 1
                  }
                  j = e2 + 1
                  if (digitsOk && j < n && b(j) == '\n') {
                    j += 1
                    if (j + len + 2 <= n && b(j + len) == '\n' && b(j + len + 1) == '\n') {
                      uri = UTF8String.fromBytes(uriBytes)
                      payload = UTF8String.fromBytes(b, j, len)
                      ok = true
                      next = j + len + 2
                    }
                  }
                }
              }
            }
          }
        }
        if (!ok) next = resync(b, i + 1)
        out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](uri, payload, ok)
        )
        i = next
      }
      new GenericArrayData(out.toArray)
    }

    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("warcSplit", this, classOf[WarcSplit].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
    }
    override protected def withNewChildInternal(c: Expression): WarcSplit = copy(child = c)
  }

  def warc_split(blobCol: Column): Column =
    Bridge.column(WarcSplit(Bridge.expression(blobCol)))

  /** Content-defined chunking over space-separated tokens (the
    * FastCDC/LBFS idea at token granularity): a chunk boundary falls
    * after token `e` whenever the fingerprint of the `w`-token window
    * ending at `e` lands in a 1-in-16 bucket — so boundaries are decided
    * by LOCAL content, never by absolute position. Prepending or editing
    * text upstream of a boundary cannot move any boundary more than one
    * window away, which makes chunk fingerprints stable under the
    * insert/delete drift that defeats fixed-size chunking (dedup at
    * chunk granularity then catches shifted boilerplate that whole-doc
    * digests and fixed windows both miss).
    *
    * Returns array&lt;struct&lt;start:int, n_tokens:int, fp:string&gt;&gt;
    * (token offsets; fp = md5 hex of the space-rejoined chunk). Docs with
    * fewer than `w` tokens are one chunk. The window fingerprint is the
    * md5 high nibble == 0 — md5 (not a cheaper gear hash) so the DuckDB
    * oracle can replay boundaries exactly: `SUBSTR(md5(win), 1, 1) = '0'`.
    * Production corpora would swap in a rolling gear hash; the chunk
    * STRUCTURE and the zero-shuffle plan shape are what this operator
    * pins down. Expected chunk length is 16 tokens (geometric); no
    * min/max clamp, so the boundary set stays position-independent (a
    * clamp makes each boundary depend on the previous one — stateful,
    * not oracle-expressible as a window).
    *
    * One pass per row inside WholeStageCodegen; O(n·w) digest bytes like
    * [[WindowMd5s]]. A boundary after the LAST token is ignored (no empty
    * tail chunks).
    */
  case class CdcChunks(child: Expression, w: Int)
      extends UnaryExpression
      with ImplicitCastInputTypes {
    require(w >= 2, s"window width must be >= 2 tokens, got $w")
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("start", IntegerType, nullable = false),
        StructField("n_tokens", IntegerType, nullable = false),
        StructField("fp", StringType, nullable = false)
      )),
      containsNull = false
    )
    override def nullIntolerant: Boolean = true

    private val space = UTF8String.fromString(" ")

    /** Invoked from both eval and generated code. */
    def compute(s: UTF8String): GenericArrayData = {
      val toks = s.split(space, -1)
      val n = toks.length
      val md = FingerprintMd5.md5()
      // boundary after token e (0-based) for e in [w-1, n-2]
      val breaks = scala.collection.mutable.ArrayBuffer.empty[Int]
      var e = w - 1
      while (e < n - 1) {
        val win = UTF8String.concatWs(space, toks.slice(e - w + 1, e + 1).toSeq: _*)
        if ((md.digest(win.getBytes)(0) & 0xf0) == 0) breaks += e
        e += 1
      }
      val out = new Array[Any](breaks.length + 1)
      var start = 0
      var c = 0
      while (c <= breaks.length) {
        val end = if (c < breaks.length) breaks(c) else n - 1 // inclusive
        val chunk = UTF8String.concatWs(space, toks.slice(start, end + 1).toSeq: _*)
        out(c) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](start, end - start + 1, FingerprintMd5.hex(md.digest(chunk.getBytes)))
        )
        start = end + 1
        c += 1
      }
      new GenericArrayData(out)
    }

    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("cdcChunks", this, classOf[CdcChunks].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
    }
    override protected def withNewChildInternal(c: Expression): CdcChunks = copy(child = c)
  }

  def cdc_chunks(textCol: Column, w: Int): Column =
    Bridge.column(CdcChunks(Bridge.expression(textCol), w))

  /** BPE tokenization APPLY kernel: split the text on single spaces,
    * start each word as its code-point symbols, then apply the trained
    * `merges` in ORDER — one greedy left-to-right pass per merge (the
    * standard byte-pair apply: a pass merges every non-overlapping
    * occurrence, overlaps resolve leftmost, and a merge can never
    * re-create its own left/right symbols so one pass per rule is
    * complete). Emits the concatenated subword array across words.
    *
    * The merge table is bounded model state riding the expression as a
    * reference object (the IVF-centroid pattern); evaluation is one
    * JIT'd walk per row — the alternative (one interpreted HOF `aggregate`
    * layer PER MERGE stacked numMerges deep) is the shape the
    * TokenEntropy/PiiScrub measurements rule out.
    */
  case class BpeSegment(child: Expression, merges: Seq[(String, String)])
      extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true

    @transient private lazy val mergeArr: Array[(String, String)] = merges.toArray

    /** Invoked from both eval and generated code. */
    def compute(s: UTF8String): GenericArrayData = {
      val words = s.toString.split(" ", -1)
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      var wi = 0
      while (wi < words.length) {
        val w = words(wi)
        if (w.nonEmpty) {
          var syms = new java.util.ArrayList[String](w.length)
          var ci = 0
          while (ci < w.length) {
            val cp = w.codePointAt(ci)
            val cc = Character.charCount(cp)
            syms.add(w.substring(ci, ci + cc))
            ci += cc
          }
          var m = 0
          while (m < mergeArr.length) {
            val a = mergeArr(m)._1
            val b = mergeArr(m)._2
            val next = new java.util.ArrayList[String](syms.size)
            var i = 0
            while (i < syms.size) {
              if (i + 1 < syms.size && syms.get(i) == a && syms.get(i + 1) == b) {
                next.add(a + b)
                i += 2
              } else {
                next.add(syms.get(i))
                i += 1
              }
            }
            syms = next
            m += 1
          }
          var k = 0
          while (k < syms.size) { out += UTF8String.fromString(syms.get(k)); k += 1 }
        }
        wi += 1
      }
      new GenericArrayData(out.toArray)
    }

    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bpeSegment", this, classOf[BpeSegment].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
    }
    override protected def withNewChildInternal(c: Expression): BpeSegment = copy(child = c)
  }

  def bpe_segment(textCol: Column, merges: Seq[(String, String)]): Column =
    Bridge.column(BpeSegment(Bridge.expression(textCol), merges))

  /** Jaro-Winkler similarity ∈ [0,1] — the record-linkage kernel (Winkler
    * 1990, "String Comparator Metrics and Enhanced Decision Rules in the
    * Fellegi-Sunter Model of Record Linkage") behind catalog / entity
    * merging: edit distance over-penalizes transposed name fragments,
    * token Jaccard can't see inside tokens — JW is the standard middle
    * ground for short keys (names, titles, normalized URLs).
    *
    * Variant pinned to the classic Winkler parameters, empirically
    * bit-matched against DuckDB's `jaro_winkler_similarity` (the oracle
    * twin): scaling p = 0.1, common-prefix length capped at 4, boost only
    * when jaro > 0.7, BOTH-empty (and either-empty) → 0.0, match window
    * `max(0, ⌊max(la,lb)/2⌋ − 1)`, transpositions = half the out-of-order
    * matched symbols. Comparison is over UTF-16 code units — identical to
    * byte/codepoint comparison on the ASCII keys record linkage feeds it.
    *
    * One O(la·lb)-worst-case (O(la·w) typical) scalar kernel per pair,
    * fully inside whole-stage codegen via the compute-method reference —
    * no UDF, no interpreted lambda.
    */
  case class JaroWinkler(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true

    /** Invoked from both eval and generated code. */
    def compute(l: UTF8String, r: UTF8String): Double = {
      val a = l.toString
      val b = r.toString
      val la = a.length
      val lb = b.length
      if (la == 0 || lb == 0) return 0.0
      val w = math.max(0, math.max(la, lb) / 2 - 1)
      val aMatch = new Array[Boolean](la)
      val bMatch = new Array[Boolean](lb)
      var m = 0
      var i = 0
      while (i < la) {
        val lo = math.max(0, i - w)
        val hi = math.min(i + w + 1, lb)
        var j = lo
        var found = false
        while (j < hi && !found) {
          if (!bMatch(j) && a.charAt(i) == b.charAt(j)) {
            aMatch(i) = true; bMatch(j) = true; m += 1; found = true
          }
          j += 1
        }
        i += 1
      }
      if (m == 0) return 0.0
      var t = 0
      var k = 0
      i = 0
      while (i < la) {
        if (aMatch(i)) {
          while (!bMatch(k)) k += 1
          if (a.charAt(i) != b.charAt(k)) t += 1
          k += 1
        }
        i += 1
      }
      val md = m.toDouble
      // FROZEN SEMANTICS — do not edit this formula (including the
      // INTEGER `t / 2`) without re-running EditDistanceSpec's DuckDB
      // bit-match fixture table: the integer transposition halving is
      // pinned to DuckDB's jaro_winkler_similarity on 40 exact-double
      // fixtures, and the x146/x99/x156 oracles replay it verbatim.
      val jaro = (md / la + md / lb + (md - t / 2) / md) / 3.0
      if (jaro <= 0.7) return jaro
      var p = 0
      val pMax = math.min(4, math.min(la, lb))
      while (p < pMax && a.charAt(p) == b.charAt(p)) p += 1
      jaro + p * 0.1 * (1.0 - jaro)
    }

    override def nullSafeEval(l: Any, r: Any): Any =
      compute(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("jaroWinkler", this, classOf[JaroWinkler].getName)
      nullSafeCodeGen(ctx, ev, (l, r) => s"${ev.value} = $ref.compute($l, $r);")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): JaroWinkler =
      copy(left = l, right = r)
  }

  def jaro_winkler(a: Column, b: Column): Column =
    Bridge.column(JaroWinkler(Bridge.expression(a), Bridge.expression(b)))

  /** Greedy longest-match-first (MaxMatch) subword segmentation — the
    * WordPiece INFERENCE algorithm (Devlin et al. 2019 BERT §4.1 /
    * Song et al. 2021, "Fast WordPiece Tokenization": greedy
    * longest-prefix at each position): at position i emit the longest
    * vocabulary piece matching `s[i..)`, else consume ONE character as
    * `<unk>` and advance. Deterministic and local — the property that
    * lets any engine replay it position-by-position (the x155 oracle is
    * exactly that replay). Raw-string MaxMatch (no `##` continuation
    * marks — the CJK-style variant; continuation-mark vocabularies are a
    * caller-side piece rewrite).
    *
    * Returns `struct(pieces array<string>, n_unk int)`. One O(len·maxLen)
    * scan per row against an immutable hash set, fully inside
    * whole-stage codegen via the compute-method reference.
    */
  case class WordPieceSegment(child: Expression, vocab: Seq[String])
      extends UnaryExpression
      with ImplicitCastInputTypes {
    require(vocab.nonEmpty, "vocab must be non-empty")
    require(vocab.forall(_.nonEmpty), "vocab pieces must be non-empty strings")
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = StructType(
      Seq(
        StructField("pieces", ArrayType(StringType, containsNull = false), nullable = false),
        StructField("n_unk", IntegerType, nullable = false)
      )
    )
    override def nullIntolerant: Boolean = true

    @transient private lazy val set: java.util.HashSet[String] = {
      val s = new java.util.HashSet[String](vocab.size * 2)
      vocab.foreach(s.add)
      s
    }
    @transient private lazy val maxLen: Int = vocab.map(_.length).max
    private val unk = UTF8String.fromString("<unk>")

    /** Invoked from both eval and generated code. */
    def compute(v: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
      val s = v.toString
      val out = new scala.collection.mutable.ArrayBuffer[UTF8String](s.length / 2 + 1)
      var nUnk = 0
      var i = 0
      while (i < s.length) {
        var l = math.min(maxLen, s.length - i)
        var hit = -1
        while (l >= 1 && hit < 0) {
          if (set.contains(s.substring(i, i + l))) hit = l
          l -= 1
        }
        if (hit > 0) {
          out += UTF8String.fromString(s.substring(i, i + hit))
          i += hit
        } else {
          out += unk
          nUnk += 1
          i += 1
        }
      }
      org.apache.spark.sql.catalyst.InternalRow(new GenericArrayData(out.toArray), nUnk)
    }

    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("wordPiece", this, classOf[WordPieceSegment].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
    }
    override protected def withNewChildInternal(c: Expression): WordPieceSegment =
      copy(child = c)
  }

  def wordpiece_segment(textCol: Column, vocab: Seq[String]): Column =
    Bridge.column(WordPieceSegment(Bridge.expression(textCol), vocab))

  /** Unicode NFC canonicalization stats — the i18n hygiene check before
    * any hash-keyed dedup: the SAME visible text can arrive composed
    * (U+00E9 `é`) or decomposed (`e` + U+0301) from different crawls /
    * OCR pipelines, and every digest-based operator in this library
    * treats those as different documents unless the corpus is normalized
    * first (the Unicode TR15 motivation). Returns
    * `struct(changed boolean, len_before int, len_after int)` where
    * lengths are UTF-16 code units (equal to code points for BMP text —
    * matching engines that count code points, e.g. the DuckDB oracle
    * twin, on non-astral corpora).
    *
    * Uses `java.text.Normalizer` NFC — the Unicode-conformant
    * normalization every engine implements identically (utf8proc on the
    * DuckDB side). Zero-shuffle codegen projection.
    */
  case class NfcStats(child: Expression)
      extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = StructType(
      Seq(
        StructField("changed", BooleanType, nullable = false),
        StructField("len_before", IntegerType, nullable = false),
        StructField("len_after", IntegerType, nullable = false)
      )
    )
    override def nullIntolerant: Boolean = true

    /** Invoked from both eval and generated code. */
    def compute(v: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
      val s = v.toString
      val n = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
      org.apache.spark.sql.catalyst.InternalRow(n != s, s.length, n.length)
    }

    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("nfcStats", this, classOf[NfcStats].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
    }
    override protected def withNewChildInternal(c: Expression): NfcStats = copy(child = c)
  }

  def nfc_stats(textCol: Column): Column =
    Bridge.column(NfcStats(Bridge.expression(textCol)))

  /** Luhn-validated payment-card detection (ISO/IEC 7812-1 Annex B
    * checksum): count maximal 13–19-digit runs and how many pass the
    * Luhn check — the precision upgrade over [[PiiScrub]]'s pattern
    * match that every DLP scanner ships (a random 16-digit number fails
    * Luhn 90% of the time, so validation cuts false positives ~10×).
    * Returns `struct(n_digit_runs, n_luhn_valid)`; runs are MAXIMAL
    * (digits extended left/right disqualify, so a 20-digit run yields
    * no candidate — not a 19-digit prefix).
    *
    * One byte walk per row (UTF-8 continuation bytes can't alias ASCII
    * digits), zero regex, inside whole-stage codegen.
    */
  case class LuhnScan(child: Expression)
      extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = StructType(
      Seq(
        StructField("n_digit_runs", IntegerType, nullable = false),
        StructField("n_luhn_valid", IntegerType, nullable = false)
      )
    )
    override def nullIntolerant: Boolean = true

    /** Invoked from both eval and generated code. */
    def compute(v: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
      val b = v.getBytes
      var runs = 0
      var valid = 0
      var i = 0
      while (i < b.length) {
        if (b(i) >= '0' && b(i) <= '9') {
          var j = i
          while (j < b.length && b(j) >= '0' && b(j) <= '9') j += 1
          val len = j - i
          if (len >= 13 && len <= 19) {
            runs += 1
            // Luhn: from the rightmost digit, double every second one
            var sum = 0
            var k = 0
            while (k < len) {
              var d = b(j - 1 - k) - '0'
              if (k % 2 == 1) { d *= 2; if (d > 9) d -= 9 }
              sum += d
              k += 1
            }
            if (sum % 10 == 0) valid += 1
          }
          i = j
        } else i += 1
      }
      org.apache.spark.sql.catalyst.InternalRow(runs, valid)
    }

    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("luhnScan", this, classOf[LuhnScan].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
    }
    override protected def withNewChildInternal(c: Expression): LuhnScan = copy(child = c)
  }

  def luhn_scan(textCol: Column): Column =
    Bridge.column(LuhnScan(Bridge.expression(textCol)))

  /** Shared Aho-Corasick automaton builder (trie + failure links +
    * collapsed output chains) for [[AhoCorasickCount]] and
    * [[BlocklistScan]] — ONE copy of the construction (including the
    * depth-1 failure-link self-loop guard) so a fix can never land in
    * one expression and silently diverge the other.
    */
  private[functions] def buildAcAutomaton(phrases: Seq[String]): (
      Array[java.util.HashMap[Character, Integer]],
      Array[Int],
      Array[Array[Int]]
  ) = {
    val kids = scala.collection.mutable.ArrayBuffer(new java.util.HashMap[Character, Integer]())
    val ends = scala.collection.mutable.ArrayBuffer(List.empty[Int])
    phrases.zipWithIndex.foreach { case (p, pi) =>
      var node = 0
      p.foreach { c =>
        val m = kids(node)
        val nxt = m.get(c)
        node = if (nxt != null) nxt.intValue()
        else {
          kids += new java.util.HashMap[Character, Integer]()
          ends += Nil
          m.put(c, kids.size - 1)
          kids.size - 1
        }
      }
      ends(node) = pi :: ends(node)
    }
    val n = kids.size
    val fail = new Array[Int](n)
    val out = new Array[List[Int]](n)
    (0 until n).foreach(i => out(i) = ends(i))
    val q = new java.util.ArrayDeque[Int]()
    kids(0).forEach { (_, v) => fail(v) = 0; q.add(v) }
    while (!q.isEmpty) {
      val u = q.poll()
      kids(u).forEach { (c, v) =>
        var f = fail(u)
        while (f != 0 && !kids(f).containsKey(c)) f = fail(f)
        val fc = kids(f).get(c)
        fail(v) = if (fc != null && fc.intValue() != v.intValue()) fc.intValue() else 0
        out(v) = out(v) ++ out(fail(v)) // collapse output chain at build
        q.add(v)
      }
    }
    (kids.toArray, fail, out.map(_.toArray))
  }

  /** Aho-Corasick multi-phrase counter (Aho & Corasick 1975, "Efficient
    * String Matching: An Aid to Bibliographic Search") — the scale path
    * for large blocklists/lexicons: the regex alternation
    * [[graft.operators.TextOps.phrasePattern]] compiles is scanned per
    * alternative by the JDK engine (O(len·k) worst case and measured
    * badly super-linear in k), while one AC automaton matches ALL k
    * phrases in a single O(len + matches) pass.
    *
    * Semantics pinned to be SQL-replayable and regex-twin-equal: per
    * phrase, NON-OVERLAPPING greedy-left occurrence count (exactly what
    * `regexp_count(text, quoted-phrase)` and DuckDB
    * `(LENGTH(t)-LENGTH(REPLACE(t,p,'')))/LENGTH(p)` compute), phrases
    * counted independently (a phrase that is a substring of another
    * still counts its own occurrences), case-sensitive, char-literal (no
    * word boundaries — callers needing [[TextOps.phrasePattern]]'s edge
    * anchoring pre-tokenize or post-filter). Returns the total count
    * over all phrases as long.
    *
    * UTF-16 scan; automaton built once per expression instance
    * (@transient lazy — rebuilt per executor after deserialization,
    * never per row).
    */
  case class AhoCorasickCount(child: Expression, phrases: Seq[String])
      extends UnaryExpression
      with ImplicitCastInputTypes {
    require(phrases.nonEmpty, "need at least one phrase")
    require(phrases.forall(_.nonEmpty), "phrases must be non-empty")
    require(phrases.distinct.size == phrases.size, s"phrases must be distinct: $phrases")
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true

    // trie: per-node char→child map; fail links; output = phrase ids
    // ending at the node PLUS the output-link chain (collapsed at build)
    @transient private lazy val automaton: (
        Array[java.util.HashMap[Character, Integer]],
        Array[Int],
        Array[Array[Int]]
    ) = buildAcAutomaton(phrases)
    @transient private lazy val phraseLen: Array[Int] = phrases.map(_.length).toArray

    /** Invoked from both eval and generated code. */
    def compute(v: UTF8String): Long = {
      val (kids, fail, out) = automaton
      val s = v.toString
      val lastEnd = new Array[Int](phrases.size)
      java.util.Arrays.fill(lastEnd, -1)
      var total = 0L
      var state = 0
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        var st = state
        while (st != 0 && !kids(st).containsKey(c)) st = fail(st)
        val nxt = kids(st).get(c)
        state = if (nxt != null) nxt.intValue() else 0
        val hits = out(state)
        var h = 0
        while (h < hits.length) {
          val pi = hits(h)
          val start = i - phraseLen(pi) + 1
          // per-phrase greedy-left non-overlap: count iff this match
          // starts after the previous counted match of the SAME phrase
          if (start > lastEnd(pi)) { total += 1L; lastEnd(pi) = i }
          h += 1
        }
        i += 1
      }
      total
    }

    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("acCount", this, classOf[AhoCorasickCount].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
    }
    override protected def withNewChildInternal(c: Expression): AhoCorasickCount =
      copy(child = c)
  }

  def ac_count(textCol: Column, phrases: Seq[String]): Column =
    Bridge.column(AhoCorasickCount(Bridge.expression(textCol), phrases))

  /** The large-blocklist scale path for
    * [[graft.operators.TextOps.blocklistGate]]: one Aho–Corasick pass
    * replicating the regex-alternation path's semantics EXACTLY —
    * leftmost match wins, longest phrase wins at the same start (the
    * alternation is sorted longest-first), matches never overlap (the
    * scan resumes at match end), and each phrase edge is word-boundary
    * anchored iff that edge is a word character, i.e. precisely what
    * `regexp_count(text, phrasePattern(phrases))` +
    * `regexp_extract(..., 0)` compute. Equality is spec-pinned at the
    * switch boundary (TextOpsSpec) so the two paths cannot drift.
    *
    * Why it exists: the JDK regex engine scans a k-way literal
    * alternation per-alternative (measured badly super-linear in k);
    * the automaton matches all k phrases in one O(len + matches) pass —
    * at 10k+ phrases this is the only plan that survives. Automaton is
    * built once per expression instance (@transient lazy), never per row.
    *
    * Returns `struct(n_hits BIGINT, first_hit STRING)`; `first_hit` is
    * NULL when nothing matches.
    */
  case class BlocklistScan(child: Expression, phrases: Seq[String])
      extends UnaryExpression
      with ImplicitCastInputTypes {
    require(phrases.nonEmpty, "need at least one phrase")
    require(phrases.forall(_.nonEmpty), "phrases must be non-empty")
    require(phrases.size <= (1 << 20), "blocklist larger than 1M phrases (rank packing limit)")
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = StructType(
      Seq(
        StructField("n_hits", LongType, nullable = false),
        StructField("first_hit", StringType, nullable = true)
      )
    )
    override def nullIntolerant: Boolean = true

    // the regex path's alternation order: longest first, then lexicographic
    @transient private lazy val ordered: Array[String] =
      phrases.distinct.sortBy(p => (-p.length, p)).toArray
    @transient private lazy val phraseLen: Array[Int] = ordered.map(_.length)
    // per-phrase edge anchoring, mirroring phrasePattern: \b only where
    // the phrase edge is a word character
    @transient private lazy val anchorHead: Array[Boolean] = ordered.map(p => isWord(p.head))
    @transient private lazy val anchorTail: Array[Boolean] = ordered.map(p => isWord(p.last))

    private def isWord(c: Char): Boolean =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '_'

    @transient private lazy val automaton: (
        Array[java.util.HashMap[Character, Integer]],
        Array[Int],
        Array[Array[Int]]
    ) = buildAcAutomaton(ordered.toSeq)

    /** Invoked from both eval and generated code. */
    def compute(v: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
      val (kids, fail, out) = automaton
      val s = v.toString
      // collect boundary-valid candidates (start, alternation rank); AC
      // emits by END position so candidates need a (start, rank) sort
      // before the greedy left-to-right sweep
      val starts = new scala.collection.mutable.ArrayBuffer[Long]()
      var state = 0
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        var st = state
        while (st != 0 && !kids(st).containsKey(c)) st = fail(st)
        val nxt = kids(st).get(c)
        state = if (nxt != null) nxt.intValue() else 0
        val hits = out(state)
        var h = 0
        while (h < hits.length) {
          val pi = hits(h)
          val start = i - phraseLen(pi) + 1
          val headOk = !anchorHead(pi) || start == 0 || !isWord(s.charAt(start - 1))
          val tailOk = !anchorTail(pi) || i == s.length - 1 || !isWord(s.charAt(i + 1))
          if (headOk && tailOk) starts += (start.toLong << 20) | pi.toLong
          h += 1
        }
        i += 1
      }
      if (starts.isEmpty) return org.apache.spark.sql.catalyst.InternalRow(0L, null)
      // (start << 20 | rank) sorts by start then alternation rank — the
      // exact order Matcher.find() tries candidates (20 bits = 1M-phrase
      // rank headroom; start dominates)
      val arr = starts.toArray
      java.util.Arrays.sort(arr)
      var total = 0L
      var first: String = null
      var cursor = 0L
      var k = 0
      while (k < arr.length) {
        val start = arr(k) >>> 20
        val pi = (arr(k) & 0xfffff).toInt
        if (start >= cursor) {
          total += 1L
          if (first == null) first = ordered(pi)
          cursor = start + phraseLen(pi)
        }
        k += 1
      }
      org.apache.spark.sql.catalyst.InternalRow(total, UTF8String.fromString(first))
    }

    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("blScan", this, classOf[BlocklistScan].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
    }
    override protected def withNewChildInternal(c: Expression): BlocklistScan =
      copy(child = c)
  }

  def blocklist_scan(textCol: Column, phrases: Seq[String]): Column =
    Bridge.column(BlocklistScan(Bridge.expression(textCol), phrases))
}
