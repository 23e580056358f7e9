package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SFT / post-training data operators: chat-transcript structuring, loss-mask
  * accounting, preference-pair construction, and Bradley–Terry strength
  * fitting.
  *
  * The reference (ystre/dsp) stops at the message envelope; a training-data
  * pipeline additionally needs the CONVERSATION layer — raw transcripts
  * parsed into (role, content) turns, per-role token accounting (the SFT
  * loss mask is "assistant tokens only"), and the preference/ranking ops
  * that RLHF-style post-training consumes.
  *
  * 100 TB design notes, per operator:
  *   - [[parseTranscript]] / [[chatStats]] / [[lossMass]] are ZERO-SHUFFLE
  *     projections: every turn of a document lives inside that document's
  *     own row, so parsing is array/lambda work on the row, never a join or
  *     a window. Text never moves between executors.
  *   - [[preferencePairs]] is ONE partial-aggregating exchange: chosen and
  *     rejected are min/max over a struct ordering, so the map side reduces
  *     each prompt group to two candidate structs before the shuffle —
  *     never a per-prompt sort or window.
  *   - [[bradleyTerry]] separates corpus-side work (reducing raw
  *     comparisons to a (item, opponent, count) table — one exchange over
  *     pair keys) from model-side work (the MM iteration over the
  *     item-strength table, which is vocabulary-sized, not corpus-sized;
  *     the per-iteration joins broadcast under AQE for any realistic item
  *     count, exactly like the IVF centroid discipline).
  */
object ChatOps {

  /** Turn-head marker: `role: ` at line start. Kept RE2-safe (alternation +
    * anchor only) and shared verbatim with the DuckDB oracles.
    */
  private[graft] def headRe(roles: Seq[String]): String =
    "^(" + roles.mkString("|") + "): "

  val DefaultRoles: Seq[String] = Seq("system", "user", "assistant")

  /** Parse a raw chat transcript into an array of (role, content) turns —
    * in-row, zero shuffle.
    *
    * Grammar (the common plain-text SFT interchange shape):
    *   - a line matching `^(system|user|assistant): ` OPENS a turn; the
    *     remainder of that line is the first content line;
    *   - subsequent non-head lines are continuation lines of the open turn
    *     (joined back with '\n');
    *   - lines before the first head are orphans (counted, not kept — the
    *     load-shed discipline: drop mass must be observable).
    *
    * Output columns: the input id column, `turns`
    * (array<struct<role,content>>), `n_lines`, `n_orphan_lines`.
    */
  def parseTranscript(
      df: DataFrame,
      idCol: Column,
      text: Column,
      roles: Seq[String] = DefaultRoles,
      keep: Seq[Column] = Nil
  ): DataFrame = {
    val re = headRe(roles)
    val lines = split(text, "\n")
    val nLines = size(lines)
    val headIdx = filter(
      sequence(lit(0), nLines - 1),
      i => element_at(lines, i + 1).rlike(re)
    )
    val nTurns = size(headIdx)
    // next-head boundary for each head: the following head index, or n_lines
    val nextIdx = concat(slice(headIdx, lit(2), greatest(nTurns - 1, lit(0))), array(nLines))
    val turns = zip_with(
      headIdx,
      nextIdx,
      (a, b) => {
        val head = element_at(lines, a + 1)
        val role = regexp_extract(head, re, 1)
        val rem = regexp_replace(head, re, "")
        val cont = slice(lines, a + 2, greatest(b - a - 1, lit(0)))
        val content =
          when(size(cont) === 0, rem)
            .otherwise(concat(rem, lit("\n"), array_join(cont, "\n")))
        struct(role.as("role"), content.as("content"))
      }
    )
    df.select(
      (idCol +: keep) ++ Seq(
      // nTurns==0 must yield an EMPTY turns array: nextIdx is [n_lines]
      // even then, and zip_with pads the short side with nulls, so the
      // unguarded zip would fabricate one junk turn.
      when(nTurns === 0, array().cast("array<struct<role:string,content:string>>"))
        .otherwise(turns)
        .as("turns"),
      nLines.as("n_lines"),
      when(nTurns === 0, nLines).otherwise(element_at(headIdx, 1)).as("n_orphan_lines")
    ): _*)
  }

  /** Structure audit over parsed turns (input = [[parseTranscript]] output;
    * still zero shuffle): per-role counts, empty turns, consecutive
    * same-role repeats (the alternation violation SFT trainers reject),
    * head/tail shape booleans, and a canonical fingerprint
    * (md5 of role||U+0001||content joined by U+0002 — the turn-level identity
    * key for conversation-level dedup).
    */
  def chatStats(parsed: DataFrame): DataFrame = {
    val turns = col("turns")
    val roles = transform(turns, t => t.getField("role"))
    val nTurns = size(turns)
    def roleCount(r: String): Column =
      size(filter(roles, x => x === lit(r)))
    val repeats = when(nTurns <= 1, lit(0)).otherwise(
      size(
        filter(
          sequence(lit(1), nTurns - 1),
          i => element_at(roles, i + 1) === element_at(roles, i)
        )
      )
    )
    val fpBody = array_join(
      transform(
        turns,
        t => concat(t.getField("role"), lit("\u0001"), t.getField("content"))
      ),
      "\u0002"
    )
    parsed.select(
      col("*"),
      nTurns.as("n_turns"),
      roleCount("system").as("n_system"),
      roleCount("user").as("n_user"),
      roleCount("assistant").as("n_assistant"),
      size(filter(turns, t => trim(t.getField("content")) === "")).as("n_empty_turns"),
      repeats.as("n_role_repeats"),
      (nTurns > 0 && element_at(roles, 1) === "system").as("starts_system"),
      (nTurns > 0 && element_at(roles, nTurns) === "assistant").as("ends_assistant"),
      md5(fpBody).as("fp")
    )
  }

  /** Whitespace token count of one turn's content ('' → 0). Newlines (the
    * only other whitespace the parser can produce inside a turn) are
    * translated to spaces first, so the split needs no regex class — the
    * exact formulation every engine replays with plain REPLACE + split.
    */
  private def turnTokens(content: Column): Column =
    size(filter(split(translate(content, "\n", " "), " "), t => t =!= ""))

  /** SFT loss-mask accounting (input = [[parseTranscript]] output; zero
    * shuffle): total tokens, assistant tokens (the only ones that receive
    * loss under the standard SFT mask), and their ratio `loss_frac`
    * (rounded 6dp so downstream averages run on bit-identical inputs in
    * every engine). A document whose loss_frac is near zero is all prompt
    * and no supervision — the classic wasted-sequence pathology.
    */
  def lossMass(parsed: DataFrame, lossRole: String = "assistant"): DataFrame = {
    val turns = col("turns")
    val total = aggregate(
      transform(turns, t => turnTokens(t.getField("content"))),
      lit(0),
      (acc, x) => acc + x
    )
    val masked = aggregate(
      transform(
        turns,
        t => when(t.getField("role") === lossRole, turnTokens(t.getField("content"))).otherwise(lit(0))
      ),
      lit(0),
      (acc, x) => acc + x
    )
    parsed.select(
      col("*"),
      total.as("total_tokens"),
      masked.as("loss_tokens"),
      when(total > 0, round(masked.cast("double") / total.cast("double"), 6))
        .otherwise(lit(0.0))
        .as("loss_frac")
    )
  }

  /** Preference-pair construction: for each prompt group, chosen = the
    * max-(score, id) candidate, rejected = the min-(score, id) candidate;
    * groups need ≥ 2 candidates and a strictly positive margin. The
    * min/max-over-struct formulation is ONE partial-aggregating exchange —
    * each prompt reduces to two structs on the map side, so a
    * billion-candidate table moves ~2 rows per prompt, never a per-prompt
    * sort.
    */
  def preferencePairs(
      df: DataFrame,
      promptCol: Column,
      candCol: Column,
      scoreCol: Column
  ): DataFrame =
    df.select(promptCol.as("prompt_id"), candCol.as("cand"), scoreCol.as("score"))
      .groupBy(col("prompt_id"))
      .agg(
        // null-score candidates are counted-and-flagged, never allowed to
        // null the min() struct (a null score inside min(struct(...))
        // would otherwise win the ascending sort and silently drop the
        // whole group even when two scored candidates exist)
        count(col("score")).as("n_candidates"),
        count(lit(1)).as("__n_all"),
        max(when(col("score").isNotNull, struct(col("score"), col("cand"))))
          .as("best"),
        min(when(col("score").isNotNull, struct(col("score"), col("cand"))))
          .as("worst")
      )
      .filter(col("n_candidates") >= 2 && col("best.score") > col("worst.score"))
      .select(
        col("prompt_id"),
        col("best.cand").as("chosen_id"),
        col("worst.cand").as("rejected_id"),
        round(col("best.score") - col("worst.score"), 6).as("margin"),
        col("n_candidates"),
        (col("__n_all") - col("n_candidates")).as("n_null_scores")
      )

  /** Rejection sampling / best-of-N selection (the RFT data constructor:
    * sample N candidates per prompt, keep the top scorers above a reward
    * threshold — Llama-2's rejection-sampling fine-tuning recipe, Touvron
    * et al. 2023 §3.2.2): per prompt, the top `topN` candidates by
    * (score desc, id desc — the [[preferencePairs]] tie-break) among those
    * with `score >= minScore`, ranked 1..topN, carrying full per-prompt
    * accounting (scored / below-threshold / null-score counts — the
    * count-and-flag discipline; a prompt whose every candidate fails the
    * gate still appears in the accounting join, just with no kept rows).
    *
    * Shape at 100 TB: the rank filter plans as partial+final
    * `WindowGroupLimit` (map-side top-N BEFORE the exchange — Spark 4
    * plans this for row_number+filter automatically), so the shuffle
    * carries ≤ topN rows per prompt per task, never the full candidate
    * mass; the accounting side is one partial-aggregating exchange.
    */
  def rejectionSample(
      df: DataFrame,
      promptCol: Column,
      candCol: Column,
      scoreCol: Column,
      minScore: Double,
      topN: Int = 1
  ): DataFrame = {
    require(topN >= 1, "topN must be at least 1")
    val rows =
      df.select(promptCol.as("prompt_id"), candCol.as("cand_id"), scoreCol.as("score"))
    val acct = rows
      .groupBy(col("prompt_id"))
      .agg(
        count(col("score")).as("n_scored"),
        (count(lit(1)) - count(col("score"))).as("n_null_scores"),
        sum(when(col("score") < minScore, lit(1L)).otherwise(lit(0L))).as("n_below")
      )
    val w = Window.partitionBy(col("prompt_id")).orderBy(col("score").desc, col("cand_id").desc)
    rows
      .filter(col("score").isNotNull && col("score") >= minScore)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .join(acct, "prompt_id")
      .select(
        col("prompt_id"),
        col("cand_id"),
        col("score"),
        col("rank"),
        col("n_scored"),
        col("n_below"),
        col("n_null_scores")
      )
  }

  /** Bradley–Terry strength fitting over pairwise comparisons via the
    * classic MM update (Hunter 2004), regularized with one virtual win and
    * one virtual loss against a strength-1 dummy opponent so items with
    * one-sided records stay finite:
    *
    *   s_i ← (w_i + v) / ( Σ_j n_ij / (s_i + s_j)  +  2v / (s_i + 1) )
    *
    * then rescaled each round to Σ s = |items| (the replayable
    * normalization; BT strengths are scale-free).
    *
    * Input: (winner, loser) rows, one per comparison. Corpus-side work is
    * the one aggregation to the directed win table; from it come the
    * undirected (i, j, n_ij) opponent table and the (item, wins, losses)
    * item table, whose counts ride on the strength rows through the loop.
    * After that every iteration touches only item-sized model tables
    * (joins broadcast under AQE), the pageRank / IVF-centroid discipline.
    * `localCheckpoint` truncates loop lineage.
    */
  def bradleyTerry(
      comparisons: DataFrame,
      iters: Int = 5,
      virtual: Double = 1.0
  ): DataFrame = {
    val c = comparisons
      .select(col("winner"), col("loser"))
      .filter(col("winner").isNotNull && col("loser").isNotNull && col("winner") =!= col("loser"))
    // Setup frames are pinned — they are corpus-pass results (pair-/item-
    // sized model state), and unpinned the MM loop would re-execute the
    // corpus aggregation every iteration (r16 ADVICE); the per-iteration
    // strength is pinned too, to truncate loop lineage.
    def mp(df: DataFrame): DataFrame = graft.runtime.GraftCheckpoint.pin(df)
    // directed is THE corpus aggregation — pin it so the single pass over
    // the comparison corpus happens exactly once. Unpinned, every table
    // derived from it re-executed the whole upstream (corpus scan +
    // whatever windows fed `comparisons`) — 7 corpus passes for 5 iters
    // (measured on x128: 4.2 s → see OPTIMIZATION_r16.md). Everything
    // below is pair-/item-sized model state derived from this pin.
    val directed = c
      .groupBy(col("winner"), col("loser"))
      .agg(count(lit(1)).as("w"))
      .transform(mp)
    val und = directed
      .select(col("winner").as("i"), col("loser").as("j"), col("w"))
      .unionByName(directed.select(col("loser").as("i"), col("winner").as("j"), col("w")))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("w")).as("n_ij"))
      .transform(mp)
    // the loop-invariant item table (item, wins, losses) in ONE union-
    // and-group pass over directed: winner rows carry (w, 0), loser rows
    // (0, w). It seeds the strengths, and wins/losses ride on them
    val items = directed
      .select(col("winner").as("item"), col("w").as("wins"), lit(0L).as("losses"))
      .unionByName(directed.select(col("loser").as("item"), lit(0L).as("wins"), col("w").as("losses")))
      .groupBy(col("item"))
      .agg(sum(col("wins")).as("wins"), sum(col("losses")).as("losses"))
      .transform(mp)

    var s = items.select(col("item"), lit(1.0).as("s"), col("wins"), col("losses"))
    var k = 0
    while (k < iters) {
      val den = und
        .join(s.select(col("item").as("i"), col("s").as("s_i")), "i")
        .join(s.select(col("item").as("j"), col("s").as("s_j")), "j")
        .groupBy(col("i").as("item"))
        .agg(sum(col("n_ij") / (col("s_i") + col("s_j"))).as("den"))
      // pin the UN-normalized update: the old shape computed `raw` twice
      // per iteration (once under the 1-row `tot` broadcast, once as the
      // main branch — each execution is the full den join chain) and then
      // pinned the normalized frame. With raw pinned, the normalization
      // total is a 1-row driver scalar (model state, the hits/pageRank
      // discipline) and `s` becomes a pure PROJECTION over the pinned
      // blocks — next iteration's two joins against it cost zero re-
      // execution and lineage stays O(1) per round without a second pin.
      val raw = s
        .join(den, Seq("item"), "left")
        .select(
          col("item"),
          ((col("wins").cast("double") + lit(virtual)) /
            (coalesce(col("den"), lit(0.0)) + lit(2.0 * virtual) / (col("s") + 1.0)))
            .as("sr"),
          col("wins"),
          col("losses")
        )
        .transform(mp)
      val r = raw
        .agg(
          coalesce(sum(col("sr")), lit(Double.NaN)).as("tot"),
          count(lit(1)).as("n")
        )
        .head()
      val (tot, nItems) = (r.getDouble(0), r.getLong(1))
      s = raw.select(
        col("item"),
        (col("sr") * lit(nItems.toDouble) / lit(tot)).as("s"),
        col("wins"),
        col("losses")
      )
      k += 1
    }
    val ranked = s.select(col("item"), round(col("s"), 6).as("strength"), col("wins"), col("losses"))
    ranked.withColumn(
      "rank",
      row_number().over(Window.orderBy(col("strength").desc, col("item")))
    )
  }

  /** Render parsed turns back to the plain `role: content` interchange
    * template (zero shuffle). Because the template IS the parse grammar,
    * render∘parse is a fixed point: re-parsing the rendered text yields
    * the same turn structure (orphan preambles are dropped — they were
    * never part of the structure), which the roundtrip query certifies by
    * digest.
    */
  def renderTemplate(parsed: DataFrame): DataFrame =
    parsed.withColumn(
      "rendered",
      array_join(
        transform(
          col("turns"),
          t => concat(t.getField("role"), lit(": "), t.getField("content"))
        ),
        "\n"
      )
    )

  /** Pairwise win-rate matrix (the arena heatmap companion of
    * [[bradleyTerry]]): one row per unordered item pair — total
    * comparisons, wins of the lexicographically smaller item, and its win
    * rate (6dp). ONE partial-aggregating exchange over pair keys.
    */
  def winMatrix(comparisons: DataFrame): DataFrame = {
    val c = comparisons
      .select(col("winner"), col("loser"))
      .filter(col("winner").isNotNull && col("loser").isNotNull && col("winner") =!= col("loser"))
    c.select(
      least(col("winner"), col("loser")).as("item_a"),
      greatest(col("winner"), col("loser")).as("item_b"),
      (col("winner") === least(col("winner"), col("loser"))).cast("long").as("aw")
    ).groupBy(col("item_a"), col("item_b"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("aw")).as("wins_a")
      )
      .withColumn("winrate_a", round(col("wins_a").cast("double") / col("n").cast("double"), 6))
  }

  /** Best-of-n curve (rejection-sampling diagnostic): for each prompt
    * group, candidates in `orderCol` order; the running max of `scoreCol`
    * after k candidates is the best-of-k outcome. Reported at the given
    * k values: number of prompts that HAVE ≥ k candidates and their mean
    * best-of-k score (6dp). One window pass over the candidate table,
    * then a k-sized aggregate.
    */
  def bestOfN(
      df: DataFrame,
      promptCol: Column,
      orderCol: Column,
      scoreCol: Column,
      ks: Seq[Int] = Seq(1, 2, 4, 8)
  ): DataFrame = {
    val w = Window.partitionBy(col("__p")).orderBy(col("__o"))
    df.select(promptCol.as("__p"), orderCol.as("__o"), scoreCol.as("__s"))
      .select(
        col("__p"),
        row_number().over(w).as("k"),
        max(col("__s")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("__best")
      )
      .filter(col("k").isin(ks.map(x => x: Any): _*))
      .groupBy(col("k"))
      .agg(
        count(lit(1)).as("n_prompts"),
        round(avg(col("__best")), 6).as("mean_best")
      )
  }

  /** Conversation-tree flattening (message forests → root-to-node paths),
    * the OpenAssistant-style tree shape: every node carries `id` and
    * `parent` (null for roots); the result gives each node its root, its
    * depth, and an md5 fingerprint of the root→node id path.
    *
    * Distributed via POINTER DOUBLING (the [[GraphOps.resolveRedirects]]
    * discipline): each round joins the partial-path table with itself, so
    * a depth-d path resolves in ⌈log₂(d+1)⌉ self-joins instead of d
    * sequential ones — at 100 TB the driver never walks a chain, and each
    * round is one equi-join on the frontier ancestor key. Paths carry only
    * fixed-width ids (never content), and the per-row array is bounded by
    * `maxDepth`, so the wire cost per round is O(nodes × maxDepth × 8 B).
    *
    * Nodes deeper than `maxDepth`, on a cycle, or with a dangling parent
    * pointer are FLAGGED (`is_resolved=false`, null root/depth/fp) — never
    * silently dropped and never walked unboundedly. Duplicate ids collapse
    * to their min parent, the same audit-safe normalization as redirects.
    *
    * Output: `id`, `root_id`, `depth` (0 for roots), `path_fp`
    * (md5 of the '/'-joined root→node id path), `is_resolved`.
    */
  def flattenTree(nodes: DataFrame, maxDepth: Int = 64): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    val m = nodes
      .filter(col("id").isNotNull)
      .groupBy(col("id"))
      .agg(min(col("parent")).as("parent"))
      .transform(graft.runtime.GraftCheckpoint.pin)
    // state: path = ids from the node upward (node first), anc = the next
    // unexplored ancestor (null once the path has reached a root)
    var f = m.select(col("id"), array(col("id")).as("path"), col("parent").as("anc"))
    val rounds = Math.max(1, 32 - Integer.numberOfLeadingZeros(maxDepth)) // 2^rounds >= maxDepth+1
    var k = 0
    while (k < rounds) {
      val jump = f.select(col("id").as("__j"), col("path").as("__jp"), col("anc").as("__ja"))
      f = f
        .join(jump, f("anc") === col("__j"), "left")
        .select(
          col("id"),
          when(col("__j").isNotNull, concat(col("path"), col("__jp"))).otherwise(col("path")).as("path"),
          when(col("__j").isNotNull, col("__ja")).otherwise(col("anc")).as("anc")
        )
        .transform(graft.runtime.GraftCheckpoint.pin)
      k += 1
    }
    val resolved = col("anc").isNull && size(col("path")) <= maxDepth + 1
    f.select(
      col("id"),
      when(resolved, element_at(col("path"), -1)).as("root_id"),
      when(resolved, (size(col("path")) - 1).cast("int")).as("depth"),
      when(resolved, md5(array_join(reverse(col("path")), "/"))).as("path_fp"),
      resolved.as("is_resolved")
    )
  }

  /** Group-relative advantage normalization (the GRPO/RLOO reward shape,
    * Shao 2024 §4.1): per prompt group, advantage = (reward − mean) / std
    * with the population std, zero when the group is degenerate (std = 0),
    * null (and counted) when the reward itself is null.
    *
    * Determinism discipline: the group moments are computed from EXACT
    * DECIMAL(18,6) sums (Σr and Σr² — exact whenever rewards carry ≤ 6dp,
    * the repo's portability quantum; reward magnitudes < 1e12), then
    * derived in IEEE double from those exact sums — so the moments are
    * identical under ANY aggregation order and in any engine: a long
    * skewed group can never push a double-sum across the 6dp rounding
    * boundary (the failure the skew-corpus selfcheck exposed in plain
    * avg/stddev_pop). Moments and the advantage round 6dp at the edge.
    *
    * Shape: one partial-aggregating exchange builds the prompt-sized moment
    * table, then an equi-join on the prompt key (broadcast under AQE for
    * realistic prompt counts) carries the moments back — the corpus rows
    * shuffle at most once, and the map side reduces each group to one
    * moment row before the wire.
    */
  def groupAdvantage(
      df: DataFrame,
      promptCol: Column,
      candCol: Column,
      rewardCol: Column
  ): DataFrame = {
    val rows = df.select(
      promptCol.as("prompt_id"),
      candCol.as("cand_id"),
      rewardCol.cast("double").as("reward")
    )
    // enforce the determinism contract at runtime instead of silently
    // rounding: a reward with >6dp (or |r| >= 1e12, past decimal(18,6)
    // range) would change value through the exact-sum cast below
    val guarded = rows.withColumn(
      "reward",
      when(
        col("reward").isNotNull &&
          (abs(col("reward")) >= lit(1e12) || col("reward") =!= round(col("reward"), 6)),
        raise_error(
          concat(
            lit("groupAdvantage requires rewards exact at 6 decimal places with |r| < 1e12 "),
            lit("(the engine's cross-engine portability quantum); got "),
            col("reward").cast("string"),
            lit(" — pre-round the reward column explicitly if lossy rounding is intended")
          )
        ).cast("double")
      ).otherwise(col("reward"))
    )
    // exact decimal sums -> order-independent double moments (scaladoc)
    val rd = col("reward").cast("decimal(18,6)")
    val g = guarded
      .groupBy(col("prompt_id"))
      .agg(
        count(col("reward")).as("n_scored"),
        (count(lit(1)) - count(col("reward"))).as("n_null"),
        sum(rd).as("__s1"),
        sum(rd * rd).as("__s2")
      )
      .select(
        col("prompt_id"),
        col("n_scored"),
        col("n_null"),
        round(col("__s1").cast("double") / col("n_scored"), 6).as("mean_r"),
        round(
          when(
            col("n_scored") > 0,
            // mu*mu, never pow(mu, 2): Math.pow is 1-ulp, not exact, and
            // the two engines could round its last bit differently
            sqrt(
              greatest(
                col("__s2").cast("double") / col("n_scored") -
                  (col("__s1").cast("double") / col("n_scored")) *
                  (col("__s1").cast("double") / col("n_scored")),
                lit(0.0)
              )
            )
          ).otherwise(lit(0.0)),
          6
        ).as("std_r")
      )
    guarded
      .join(g, Seq("prompt_id"))
      .select(
        col("prompt_id"),
        col("cand_id"),
        col("reward"),
        col("n_scored"),
        col("n_null"),
        col("mean_r"),
        col("std_r"),
        when(col("reward").isNull, lit(null).cast("double"))
          .when(col("std_r") > 0, round((col("reward") - col("mean_r")) / col("std_r"), 6))
          .otherwise(lit(0.0))
          .as("advantage")
      )
  }

  /** Generalized Advantage Estimation (Schulman et al. 2016, "High-
    * Dimensional Continuous Control Using Generalized Advantage
    * Estimation" §3): per (trajectory, step) compute the TD residual
    * δ_t = r_t + γ·V(s_{t+1}) − V(s_t) (terminal V = 0) and the
    * exponentially-weighted advantage A_t = Σ_k (γλ)^k δ_{t+k}, plus the
    * λ-return ret_t = A_t + V(s_t) — the PPO/RLHF advantage table.
    *
    * The reverse recursion A_t = δ_t + γλ·A_{t+1} is sequential; the
    * distributed form used here is the closed suffix sum
    * A_t = (γλ)^{−t} · Σ_{k≥t} (γλ)^k δ_k — two windows (a lead for
    * V(s_{t+1}), a suffix sum for A) over TRAJECTORY partitions, which
    * are bounded by episode length (RLHF horizons are ~10²–10³ steps),
    * never corpus-sized: the standard bounded-window contract. The
    * (γλ)^t scaling underflows past ~700 steps at γλ=0.25 (double
    * exponent range); the documented contract is bounded horizons —
    * require(T ≤ 512) twins live in the caller's spec.
    *
    * Engine-portability: with dyadic γλ (e.g. 0.25) and dyadic
    * rewards/values all arithmetic is EXACT in binary doubles, so the
    * 6dp rounding is cosmetic and any engine replays bit-equal — the
    * discipline the x153 oracle leans on.
    */
  def gaeAdvantage(
      df: DataFrame,
      trajCol: Column,
      stepCol: Column,
      rewardCol: Column,
      valueCol: Column,
      gamma: Double,
      lam: Double
  ): DataFrame = {
    require(gamma > 0.0 && gamma <= 1.0, s"gamma must be in (0,1], got $gamma")
    require(lam > 0.0 && lam <= 1.0, s"lambda must be in (0,1], got $lam")
    val gl = gamma * lam
    val byStep = Window.partitionBy(col("traj_id")).orderBy(col("step"))
    val suffix = Window
      .partitionBy(col("traj_id"))
      .orderBy(col("step"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    df.select(
      trajCol.as("traj_id"),
      stepCol.cast("int").as("step"),
      rewardCol.cast("double").as("r"),
      valueCol.cast("double").as("v")
    ).withColumn(
        "delta",
        col("r") + lit(gamma) * coalesce(lead(col("v"), 1).over(byStep), lit(0.0)) - col("v")
      )
      .withColumn("__w", pow(lit(gl), col("step")) * col("delta"))
      .withColumn("advantage", sum(col("__w")).over(suffix) / pow(lit(gl), col("step")))
      .select(
        col("traj_id"),
        col("step"),
        round(col("delta"), 6).as("delta"),
        round(col("advantage"), 6).as("advantage"),
        round(col("advantage") + col("v"), 6).as("lambda_return")
      )
  }

  /** Per-prompt KL-divergence estimators between a reference policy p and
    * a trained policy q from per-token log-probabilities (Schulman 2020,
    * "Approximating KL Divergence": for x~p and r = log q(x) − log p(x),
    * k1 = −r is unbiased/high-variance, k2 = r²/2 is low-variance/biased,
    * k3 = (e^r − 1) − r is unbiased AND non-negative — the estimator the
    * RLHF KL-penalty term actually uses). Output per prompt: token count,
    * mean log-ratio, and the three estimator means (6dp).
    *
    * Shape at 100 TB: pure one-exchange partial aggregation on the
    * prompt key — per-token rows collapse map-side; no windows, no
    * joins. Null log-probs are counted and excluded (count-and-flag).
    */
  def klEstimators(
      df: DataFrame,
      promptCol: Column,
      logpCol: Column,
      logqCol: Column
  ): DataFrame = {
    val r = logqCol.cast("double") - logpCol.cast("double")
    df.select(promptCol.as("prompt_id"), r.as("__r"))
      .groupBy(col("prompt_id"))
      .agg(
        count(col("__r")).as("n_tokens"),
        (count(lit(1)) - count(col("__r"))).as("n_null"),
        round(avg(col("__r")), 6).as("mean_lr"),
        round(avg(-col("__r")), 6).as("k1"),
        round(avg(col("__r") * col("__r") / 2), 6).as("k2"),
        // exp is the one transcendental here: its per-token value is
        // 6dp-rounded BEFORE averaging (the x126 pre-round rule) so
        // libm-ULP and summation-order differences cannot reach the
        // aggregate; k1/k2/mean are exact on dyadic log-prob inputs
        round(avg(round(exp(col("__r")) - 1 - col("__r"), 6)), 6).as("k3")
      )
  }
}
