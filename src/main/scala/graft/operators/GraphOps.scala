package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph construction and PageRank — the crawl-graph quality prior of
  * a web-scale curation pipeline. Production corpus filters (Common-Crawl
  * derived sets, quality-weighted sampling) use link-graph centrality as a
  * document-quality signal alongside the content gates ([[TextOps]],
  * [[CorpusOps]]); the reference has no graph surface, so this is part of
  * the beyond-reference LLM-pipeline layer (builder prompt), the directed
  * sibling of [[ConnectedComponents]].
  *
  * 100 TB design notes:
  *   - [[htmlLinks]] is a pure projection (one RE2-safe regex scan +
  *     explode) — zero shuffle; the host filter and id parse compose on
  *     top without leaving whole-stage codegen.
  *   - [[pageRank]] keeps per-iteration state as (id, pr, out_deg) rows —
  *     24 bytes a row, hash-partitioned on id. The out-degree rides on the
  *     state from a node table built in one pass over the edges, so each
  *     iteration is ONE equi-join of ranks against the (src-keyed) edge
  *     list and ONE partial-aggregating exchange on dst; a mega-hub page
  *     costs a combiner pass, not a reducer hot spot, because
  *     `groupBy(dst).sum` combines map-side.
  *   - dangling mass (pages with `out_deg = 0`) is a 1-row aggregate of
  *     the state broadcast back into the update — never a driver-side loop
  *     over nodes; the only driver scalar is the node count (model state,
  *     same contract as [[ConnectedComponents]]'s per-round convergence
  *     scalar).
  *   - every iteration is eagerly pinned ([[graft.runtime.GraftCheckpoint]]),
  *     truncating lineage so plan size and retry cost stay O(1) per round;
  *     on a real cluster set `spark.graft.checkpointDir` to make each pin a
  *     reliable checkpoint that survives executor loss.
  */
object GraphOps {

  /** Null endpoints are DROPPED from every graph operator here: an
    * unparseable link is the extractor's corrupt-accounting concern
    * ([[htmlLinks]] consumers count it), and letting a null ride into
    * join keys silently detaches mass (PageRank/HITS) or fabricates a
    * resolved-null target (redirects).
    */
  private def dropNullEndpoints(edges: DataFrame): DataFrame =
    edges
      .select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()

  /** Extract anchor hrefs from an HTML column: one output row per href
    * occurrence, `(src, href)`. The pattern is RE2-safe (no backtracking
    * constructs), so a DuckDB oracle can replay it verbatim; it matches
    * double-quoted href attributes in `<a>` tags case-insensitively —
    * the layout contract of the synthetic corpus and of normalized crawl
    * HTML (see `warcIngest` for raw-archive framing upstream of this).
    */
  def htmlLinks(df: DataFrame, idCol: Column, htmlCol: Column): DataFrame =
    df.select(
        idCol.as("src"),
        explode(
          regexp_extract_all(htmlCol, lit("(?i)<a[^>]*href=\"([^\"]*)\""), lit(1))
        ).as("href")
      )

  /** Extract anchor ELEMENTS with their link text: one row per
    * `<a href="…">text</a>` occurrence, `(src, href, anchor)` with the
    * anchor text trimmed. Anchor text is the classic relevance/quality
    * signal for the link TARGET (what the web calls a page is often
    * better evidence than the page's own boilerplate) — aggregate it
    * per dst for target-side features. Same RE2-safe contract as
    * [[htmlLinks]]; anchors with markup inside the text (nested tags)
    * are out of the fixed-layout contract and simply don't match.
    */
  def anchors(df: DataFrame, idCol: Column, htmlCol: Column): DataFrame =
    df.select(
        idCol.as("src"),
        explode(
          regexp_extract_all(
            htmlCol,
            lit("(?i)<a[^>]*href=\"[^\"]*\"[^>]*>[^<]*</a>"),
            lit(0)
          )
        ).as("elem")
      )
      .select(
        col("src"),
        regexp_extract(col("elem"), "(?i)href=\"([^\"]*)\"", 1).as("href"),
        trim(regexp_extract(col("elem"), ">([^<]*)<", 1)).as("anchor")
      )

  /** HITS hubs-and-authorities (Kleinberg, JACM 1999) over a directed
    * edge list — the link-spam lens that complements [[pageRank]]: a
    * farm of pages linking each other inflates PageRank but splits into
    * hub-ness and authority-ness here, and a page with high hub but no
    * authority is the classic directory/spam shape. Synchronous
    * iterations, L1 normalization after each half-step (the standard L2
    * only rescales the ranking — L1 keeps every arithmetic op a plain
    * sum/divide that an oracle replays exactly; documented choice).
    * Returns `(id, hub, auth)` UNROUNDED; round at the edge.
    *
    * Scale shape per half-step: one equi-join of the SPARSE score frame
    * against the checkpointed edge list + one partial-agg exchange
    * (identical to [[pageRank]]'s iteration), pinned, with the L1 total
    * read as a 1-row driver scalar (model state, like [[pageRank]]'s
    * |V|). Zero-score nodes carry no rows through the loop — their 0.0
    * contributions are arithmetic no-ops — and are re-densified once in
    * the final assembly.
    */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    val e = dropNullEndpoints(edges).transform(graft.runtime.GraftCheckpoint.pin)
    val nodes = e
      .select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct()
      .transform(graft.runtime.GraftCheckpoint.pin)
    // The loop carries SPARSE score frames: only nodes with a nonzero
    // score appear ((id, hub) / (id, auth)); zero-score nodes contribute
    // exactly 0.0 to every downstream sum, so dropping their rows changes
    // no arithmetic (x + 0.0 ≡ x; the L1 totals never saw them either) —
    // but it removes the per-half-step dense `nodes LEFT JOIN` that the
    // old formulation paid twice per iteration, and with it ~half the
    // stages (old: 2 dense joins + 2 broadcast-nested-loop total joins +
    // one pinned join of two aggregate subtrees per iteration — where the
    // auth subtree executed 2–3x because the totals and the final join
    // each re-derived it; measured on x106: 33 stages, 2.7–9.0 s
    // run-to-run). Each half-step is now ONE equi-join + ONE
    // partial-aggregating exchange, pinned, with the L1 total read as a
    // 1-row driver scalar off the pinned aggregate (model state, the
    // pageRank |V| discipline). Zeros are re-densified once at the end.
    var hubS = nodes.select(col("id"), lit(1.0).as("hub")) // dense init: all 1.0
    var authS: DataFrame = null
    var i = 0
    while (i < iters) {
      val authRaw = e
        .join(hubS, e("src") === hubS("id"))
        .groupBy(col("dst"))
        .agg(sum(col("hub")).as("__a"))
        .transform(graft.runtime.GraftCheckpoint.pin)
      // coalesce: an empty edge set has no rows to sum (the output is
      // empty anyway — nodes is empty — but the scalar read must not NPE)
      val ta = authRaw.agg(coalesce(sum(col("__a")), lit(Double.NaN)).as("t")).head().getDouble(0)
      authS = authRaw.select(col("dst").as("id"), (col("__a") / lit(ta)).as("auth"))
      val hubRaw = e
        .join(authS, e("dst") === authS("id"))
        .groupBy(col("src"))
        .agg(sum(col("auth")).as("__h"))
        .transform(graft.runtime.GraftCheckpoint.pin)
      val th = hubRaw.agg(coalesce(sum(col("__h")), lit(Double.NaN)).as("t")).head().getDouble(0)
      hubS = hubRaw.select(col("src").as("id"), (col("__h") / lit(th)).as("hub"))
      i += 1
    }
    if (iters == 0) nodes.select(col("id"), lit(1.0).as("hub"), lit(1.0).as("auth"))
    else
      nodes
        .join(hubS.withColumnRenamed("id", "__hid"), nodes("id") === col("__hid"), "left")
        .join(authS.withColumnRenamed("id", "__aid"), nodes("id") === col("__aid"), "left")
        .select(
          col("id"),
          coalesce(col("hub"), lit(0.0)).as("hub"),
          coalesce(col("auth"), lit(0.0)).as("auth")
        )
  }

  /** Redirect-chain resolution by pointer doubling — the crawl-side
    * canonicalization step that [[CorpusOps]]' URL dedup needs upstream:
    * HTTP redirects form a functional graph (each source one target;
    * duplicates collapse to `min(dst)` for determinism), and the final
    * landing URL of every source is the fixpoint of following it. The
    * naive walk is O(longest chain) sequential joins; pointer doubling
    * (f ← f∘f per round, the classic parallel list-ranking trick)
    * resolves every chain of length ≤ L in ⌈log₂ L⌉ self-joins of the
    * (src, dst) mapping — each round ONE equi-join on ids, eagerly
    * checkpointed. Sources still pointing at a redirecting URL after the
    * rounds (a cycle, or a chain longer than `maxSteps`) are flagged
    * unresolved with a null target: count-and-flag, never an infinite
    * loop and never a silent wrong answer.
    *
    * Returns `(src, final_dst, is_resolved)` for every source in the
    * redirect table.
    */
  def resolveRedirects(redirects: DataFrame, maxSteps: Int = 32): DataFrame = {
    require(maxSteps >= 1, s"maxSteps must be >= 1, got $maxSteps")
    // a null endpoint would otherwise propagate through min()/the hop
    // join and emit is_resolved=true with a null target — silent wrong
    val m = redirects
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .groupBy(col("src"))
      .agg(min(col("dst")).as("dst"))
      .transform(graft.runtime.GraftCheckpoint.pin)
    // f carries the TRUE hop depth alongside the pointer so the
    // maxSteps bound is exact: doubling can over-shoot the bound by up
    // to 2x in rounds, but a chain that RESOLVED in more than maxSteps
    // hops is still flagged per the documented policy ("never follow
    // more than N redirects"), not silently returned.
    var f = m.withColumn("d", lit(1L)) // src -> target after 2^k hops + depth
    val rounds = Math.max(1, 32 - Integer.numberOfLeadingZeros(maxSteps)) // 2^rounds >= maxSteps
    var k = 0
    // fixpoint early-exit: d grows monotonically whenever any pointer
    // still hops, so an unchanged Σd means no chain advanced this round
    // and every later round is the identity — stop paying for them. Real
    // chains are a few hops (2-3 rounds); only a cycle runs the full
    // log₂(maxSteps) budget, exactly as before. One cheap aggregate over
    // the already-pinned round frame; results are bit-identical (the
    // skipped rounds would not have changed f).
    var dSum = -1L
    var converged = false
    while (k < rounds && !converged) {
      val hop = f.select(col("src").as("__s2"), col("dst").as("__d2"), col("d").as("__dd"))
      f = f
        .join(hop, f("dst") === col("__s2"), "left")
        .select(
          col("src"),
          coalesce(col("__d2"), col("dst")).as("dst"),
          (col("d") + coalesce(col("__dd"), lit(0L))).as("d")
        )
        .transform(graft.runtime.GraftCheckpoint.pin)
      val nd = f.agg(coalesce(sum(col("d")), lit(0L)).as("s")).head().getLong(0)
      converged = nd == dSum
      dSum = nd
      k += 1
    }
    // unresolved = the final pointer still redirects somewhere (cycle or
    // chain longer than the rounds cover), OR the chain resolved but in
    // more than maxSteps hops (the policy bound)
    f.join(m.select(col("src").as("__k")), f("dst") === col("__k"), "left")
      .select(
        col("src"),
        when(col("__k").isNull && col("d") <= maxSteps, col("dst")).as("final_dst"),
        (col("__k").isNull && col("d") <= maxSteps).as("is_resolved")
      )
  }

  /** Link-graph release audit — the dataset-card discipline applied to a
    * crawl graph, one row per bucket: raw vs distinct edge counts
    * (duplicate-link mass), self-loop count, reciprocated-pair count
    * (each unordered pair once), and the bucket's max distinct
    * out-degree (the hub-skew signal that decides salting). All exact
    * integer counts; the reciprocity check is a semi-join of the
    * distinct edge set against its own transpose. Unlike the analytic
    * operators, null endpoints are NOT dropped here — an audit's job is
    * to SURFACE them (they group under a null bucket and never match a
    * reciprocity key).
    */
  def linkAudit(edges: DataFrame, bucketCol: Column): DataFrame = {
    // pin the raw and distinct edge frames: the four audit branches
    // (raw count, distinct+self count, reciprocity semi-join — which
    // reads dist twice — and out-degree) otherwise each re-run the
    // caller's edge EXTRACTION (regex explode over HTML in x107's case:
    // 10 scans / 5 generates in the unpinned plan). Both frames are
    // ids+bucket rows — the smallest thing in the pipeline — and the
    // extraction is the expensive part at any scale.
    val raw = graft.runtime.GraftCheckpoint.pin(
      edges.select(bucketCol.as("bucket"), col("src"), col("dst"))
    )
    val dist = graft.runtime.GraftCheckpoint.pin(raw.distinct())
    val nRaw = raw.groupBy(col("bucket")).agg(count(lit(1)).as("n_raw"))
    val nDist = dist.groupBy(col("bucket")).agg(
      count(lit(1)).as("n_distinct"),
      sum(when(col("src") === col("dst"), 1L).otherwise(0L)).as("n_self")
    )
    val recip = dist
      .where(col("src") < col("dst"))
      .join(
        dist.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"),
        "left_semi"
      )
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_reciprocal"))
    val outDeg = dist
      .groupBy(col("bucket"), col("src"))
      .agg(count(lit(1)).as("__od"))
      .groupBy(col("bucket"))
      .agg(max(col("__od")).as("max_out_deg"))
    // null-safe assembly: a null bucket (null-src edges — the audit must
    // SURFACE those, see scaladoc) would silently vanish through a plain
    // equi-join on the bucket key
    def ns(l: DataFrame, r: DataFrame): DataFrame = {
      val ra = r.withColumnRenamed("bucket", "__rb")
      l.join(ra, col("bucket") <=> col("__rb"), "left").drop("__rb")
    }
    ns(ns(ns(nRaw, nDist), recip), outDeg)
      .select(
        col("bucket"),
        col("n_raw"),
        col("n_distinct"),
        col("n_self"),
        coalesce(col("n_reciprocal"), lit(0L)).as("n_reciprocal"),
        col("max_out_deg")
      )
  }

  /** PageRank over a directed edge list `(src, dst)`, `iters` synchronous
    * iterations at damping `d`: pr' = (1−d)/n + d·(Σ_in pr/out_deg + dm/n)
    * where dm is the total rank mass of dangling nodes (no outlinks),
    * redistributed uniformly — the standard formulation, mass-conserving
    * (Σ pr = 1 after every iteration, asserted in the spec and the 5M
    * stress).
    *
    * Contract: parallel edges and self-loops are deduplicated/kept as
    * given — the input is `distinct()`ed here so a page linking the same
    * target twice endorses it once (the crawl-graph convention); the node
    * set is the union of edge endpoints, and a self-loop is an outlink (a
    * page whose only link is to itself is not dangling). Returns
    * `(id, pr)` with pr UNROUNDED — callers that need engine-portable
    * output round at the edge (the oracle query rounds to 9 dp).
    */
  def pageRank(
      edges: DataFrame,
      iters: Int,
      damping: Double = 0.85
  ): DataFrame = {
    // pin the cleaned edge list FIRST (the hits discipline): the node
    // table and every round read it, and the caller's edge derivation
    // (a corpus pass, for crawl-derived edges) must run once
    val e = dropNullEndpoints(edges).transform(graft.runtime.GraftCheckpoint.pin)
    // the loop-invariant node table (id, out_deg) in ONE pass over e: src
    // rows carry 1, dst rows 0, summed per id — every endpoint appears
    // once, and out_deg = 0 marks a dangling node
    val nodes = e
      .select(col("src").as("id"), lit(1L).as("o"))
      .union(e.select(col("dst").as("id"), lit(0L).as("o")))
      .groupBy(col("id"))
      .agg(sum(col("o")).cast("double").as("out_deg"))
      .transform(graft.runtime.GraftCheckpoint.pin)
    // the ONE driver scalar: |V| — model state, like CC's convergence scalar
    val n = nodes.count()
    val teleport = (1.0 - damping) / n

    // ranks carry out_deg, so neither the contributions nor the dangling
    // mass joins anything back
    var ranks = nodes.select(col("id"), lit(1.0 / n).as("pr"), col("out_deg"))
    var i = 0
    while (i < iters) {
      val sums = e
        .join(ranks, e("src") === ranks("id"))
        .groupBy(col("dst"))
        .agg(sum(col("pr") / col("out_deg")).as("s"))
      // dangling mass: rank held by nodes with no outlinks (1-row aggregate)
      val dangling = ranks
        .where(col("out_deg") === 0.0)
        .agg(coalesce(sum(col("pr")), lit(0.0)).as("dm"))
      val next = ranks
        .join(sums, ranks("id") === sums("dst"), "left")
        .crossJoin(broadcast(dangling))
        .select(
          col("id"),
          (lit(teleport) + lit(damping) * (coalesce(col("s"), lit(0.0)) + col("dm") / lit(n.toDouble)))
            .as("pr"),
          col("out_deg")
        )
      ranks = next.transform(graft.runtime.GraftCheckpoint.pin)
      i += 1
    }
    ranks.select(col("id"), col("pr"))
  }

  /** Per-node triangle counts + local clustering coefficient over the
    * UNDIRECTED simplification of an edge list (direction, duplicates and
    * self-loops removed) — the classic link-farm / community-density
    * signal of web-graph curation.
    *
    * Algorithm: degree-ordered edge-iterator (Schank & Wagner 2005,
    * "Finding, Counting and Listing all Triangles in Large Graphs").
    * Every edge is ORIENTED from its lower-(degree, id) endpoint to its
    * higher one, which makes the oriented graph acyclic with max
    * out-degree O(√m) regardless of hub skew — so the wedge self-join
    * (the only quadratic-risk step) is bounded by arboricity, not by the
    * raw degree of the hottest hub. Each triangle is then generated
    * EXACTLY once as a wedge at its lowest-rank corner closed by one
    * oriented edge — no 6-fold overcount, no dedup pass. Shapes: two
    * equi-joins + two partial-aggregating exchanges; only ids and degrees
    * cross the wire.
    *
    * Output: `node_id`, `degree` (undirected, distinct neighbors),
    * `n_triangles`, `clustering` (2T / d(d−1), 6dp, 0.0 for degree < 2).
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val und = edges
      .filter(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .distinct()
      .transform(graft.runtime.GraftCheckpoint.pin)
    val deg = und
      .select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("degree"))
    // rank = (degree, id): orient each edge low-rank -> high-rank
    val du = deg.select(col("id").as("u"), col("degree").as("du"))
    val dv = deg.select(col("id").as("v"), col("degree").as("dv"))
    val ranked = und.join(du, Seq("u")).join(dv, Seq("v"))
    def rk(d: Column, i: Column): Column = struct(d.as("d"), i.as("i"))
    val uFirst = rk(col("du"), col("u")) < rk(col("dv"), col("v"))
    val oriented = ranked
      .select(
        when(uFirst, col("u")).otherwise(col("v")).as("a"),
        when(uFirst, rk(col("dv"), col("v"))).otherwise(rk(col("du"), col("u"))).as("hi")
      )
      .transform(graft.runtime.GraftCheckpoint.pin)
    // wedges at the lowest-rank corner; closing edge must itself be oriented
    val o1 = oriented.select(col("a"), col("hi").as("b"))
    val o2 = oriented.select(col("a"), col("hi").as("c"))
    val wedges = o1.join(o2, Seq("a")).filter(col("b") < col("c"))
    val closing = oriented.select(col("a").as("__ca"), col("hi").as("__chi"))
    val tris = wedges.join(
      closing,
      col("b").getField("i") === col("__ca") && col("c") === col("__chi")
    )
    val nodeTri = tris
      .select(
        explode(
          array(col("a"), col("b").getField("i"), col("c").getField("i"))
        ).as("id")
      )
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_triangles"))
    deg
      .join(nodeTri, Seq("id"), "left")
      .select(
        col("id").as("node_id"),
        col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(
          col("degree") >= 2,
          round(
            lit(2.0) * coalesce(col("n_triangles"), lit(0L)).cast("double") /
              (col("degree").cast("double") * (col("degree") - 1).cast("double")),
            6
          )
        ).otherwise(lit(0.0)).as("clustering")
      )
  }
}
