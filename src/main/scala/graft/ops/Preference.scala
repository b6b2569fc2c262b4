package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Preference-data operators — the RLHF/eval side of pairwise
  * comparisons: win-rate tables and Bradley–Terry strength fitting over
  * a duel log `(winner, loser)` (model A vs model B per prompt, the
  * arena/leaderboard shape).
  *
  * Bradley–Terry runs Hunter (2004)'s MM iteration in 64-bit FIXED
  * POINT (the [[Graphs.pageRankFixed]] discipline): floor `div`s and
  * order-free long sums make every iteration bit-replayable — a
  * leaderboard that can't reproduce itself across engines can't be
  * regression-gated. Regularization is one VIRTUAL opponent of fixed
  * strength 10⁶ that every player beats once and loses to once (the
  * standard add-one prior), which keeps strengths finite for undefeated
  * players and positive for winless ones.
  */
object Preference {

  private val Scale = 1000000L
  private val Scale2 = Scale * Scale

  private def loud(c: Column, what: String): Column =
    when(c.isNull, raise_error(lit(
      s"Preference: null $what — clean the duel log first")))
      .otherwise(c.cast("string"))

  /** Duel log → canonicalized per-pair win stats: one row per unordered
    * pair `(player_a < player_b)` with `n_games`, `n_wins_a`, and the
    * exact-integer `winrate_a_micro = 10⁶·wins_a div n`. Null players
    * and self-duels fail loudly. One hash aggregate — pair-keyed,
    * partial-aggregable, any duel volume. */
  def winRates(duels: DataFrame, winnerCol: String, loserCol: String)
      : DataFrame = {
    val d = canon(duels, winnerCol, loserCol)
    d.groupBy(col("lo"), col("hi"))
      .agg(count(lit(1)).as("n_games"), sum(col("win_lo")).as("n_wins_a"))
      .select(col("lo").as("player_a"), col("hi").as("player_b"),
        col("n_games"), col("n_wins_a"),
        expr(s"($Scale * n_wins_a) div n_games").as("winrate_a_micro"))
  }

  private def canon(duels: DataFrame, winnerCol: String, loserCol: String)
      : DataFrame = {
    val w = loud(col(winnerCol), "winner")
    val l = loud(col(loserCol), "loser")
    duels.select(w.as("w"), l.as("l"))
      .select(
        when(col("w") === col("l"), raise_error(concat(
            lit("Preference: self-duel for player "), col("w"),
            lit(" — a player cannot beat itself; clean the duel log"))))
          .otherwise(least(col("w"), col("l"))).as("lo"),
        greatest(col("w"), col("l")).as("hi"),
        when(col("w") <= col("l"), 1L).otherwise(0L).as("win_lo"))
  }

  /** Verbosity-bias audit over a duel log that carries response
    * lengths: preference data is notoriously length-biased (raters —
    * human or LLM judge — favor longer answers), and a reward model
    * trained on a biased log learns verbosity, not quality. Buckets
    * duels by |len_winner − len_loser| div `bucketWidth` and reports,
    * per bucket, how often the LONGER side won:
    * `(len_gap_bucket, n_duels, n_longer_won, n_equal_len,
    * longer_win_micro)` with `longer_win_micro = 10⁶·longer_won div
    * (n − equal)` (NULL when every duel in the bucket is equal-length —
    * bucket 0 with width > 1 can mix gap-0 and small gaps). An unbiased
    * log holds ~500000 across buckets; a rising curve is the verbosity
    * signature. Null lengths fail loudly. One hash aggregate,
    * bucket-keyed — any duel volume. */
  def lengthBias(duels: DataFrame, winnerLenCol: String, loserLenCol: String,
                 bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1L, s"bucket width must be positive: $bucketWidth")
    def loudLen(c: Column, what: String): Column =
      when(c.isNull, raise_error(lit(
        s"Preference: null $what — every duel needs both lengths")))
        .otherwise(c.cast("long"))
    duels
      .select(loudLen(col(winnerLenCol), "winner length").as("wl"),
        loudLen(col(loserLenCol), "loser length").as("ll"))
      .select(expr(s"abs(wl - ll) div ${bucketWidth}L").as("len_gap_bucket"),
        when(col("wl") > col("ll"), 1L).otherwise(0L).as("longer_won"),
        when(col("wl") === col("ll"), 1L).otherwise(0L).as("equal_len"))
      .groupBy(col("len_gap_bucket"))
      .agg(count(lit(1)).as("n_duels"),
        sum(col("longer_won")).as("n_longer_won"),
        sum(col("equal_len")).as("n_equal_len"))
      .select(col("len_gap_bucket"), col("n_duels"), col("n_longer_won"),
        col("n_equal_len"),
        when(col("n_duels") > col("n_equal_len"),
          expr("(1000000 * n_longer_won) div (n_duels - n_equal_len)"))
          .as("longer_win_micro"))
  }

  /** Position-bias audit over a duel log that records which side was
    * PRESENTED FIRST — the other canonical pairwise-judge bias next to
    * [[lengthBias]]'s verbosity: human raters and LLM judges both favor
    * the first-shown response (the "order effect"), and a preference log
    * with a first-position win rate far from 500000 trains a reward
    * model on presentation order, not quality. The standard mitigation —
    * judge both orders and keep agreements — starts from exactly this
    * table.
    *
    * Reports per unordered pair `(player_a < player_b)`:
    * `(player_a, player_b, n_duels, n_a_first, n_first_won,
    * first_win_micro = 10⁶·first_won div n)` — counts, not just the
    * ratio, so a significance read (how many duels back the rate) and
    * the presentation balance (`n_a_first` vs `n_duels/2`) sit in the
    * same row; the overall rate is one more aggregate the caller owns.
    * Null fields fail loudly; a `first` that is NEITHER duel side fails
    * loudly (a corrupted log row, not a vote). One pair-keyed
    * partial-aggregable hash aggregate — any duel volume. */
  def positionBias(duels: DataFrame, winnerCol: String, loserCol: String,
                   firstCol: String): DataFrame = {
    val w = loud(col(winnerCol), "winner")
    val l = loud(col(loserCol), "loser")
    val f = loud(col(firstCol), "first-presented player")
    duels.select(w.as("w"), l.as("l"), f.as("f"))
      .select(
        when(col("w") === col("l"), raise_error(concat(
            lit("Preference: self-duel for player "), col("w"),
            lit(" — a player cannot beat itself; clean the duel log"))))
          .when(col("f") =!= col("w") && col("f") =!= col("l"),
            raise_error(concat(
              lit("Preference: first-presented player "), col("f"),
              lit(" is neither duel side — clean the duel log"))))
          .otherwise(least(col("w"), col("l"))).as("lo"),
        greatest(col("w"), col("l")).as("hi"),
        when(col("f") === least(col("w"), col("l")), 1L).otherwise(0L)
          .as("a_first"),
        when(col("f") === col("w"), 1L).otherwise(0L).as("first_won"))
      .groupBy(col("lo"), col("hi"))
      .agg(count(lit(1)).as("n_duels"),
        sum(col("a_first")).as("n_a_first"),
        sum(col("first_won")).as("n_first_won"))
      .select(col("lo").as("player_a"), col("hi").as("player_b"),
        col("n_duels"), col("n_a_first"), col("n_first_won"),
        expr(s"($Scale * n_first_won) div n_duels").as("first_win_micro"))
  }

  /** Order-consistency audit over a BOTH-ORDERS duel log — the standard
    * mitigation [[positionBias]] points at: judge every match twice with
    * the presentation flipped and keep only order-consistent verdicts.
    * This measures how much of the log that discipline keeps. `matchCol`
    * identifies a judged match (prompt/comparison id); a match judged in
    * both orders is PAIRED. Reports per unordered pair:
    * `(player_a, player_b, n_matches, n_paired, n_consistent,
    * n_both_followed, consistency_micro = 10⁶·consistent div paired)` —
    * `n_consistent` counts paired matches whose two verdicts name the
    * SAME winner (order-robust signal), `n_both_followed` counts paired
    * matches where BOTH verdicts followed the presentation (the
    * maximal-position-bias signature; an unbiased noisy judge shows few,
    * a pure-position judge shows all). Un-paired matches stay visible in
    * `n_matches`; `consistency_micro` is NULL when nothing pairs.
    *
    * Loud contracts: nulls; a `first` that is neither side; a third
    * judgment for a match (the pairing is by definition two); two
    * judgments sharing the SAME presentation order (a re-judge, not an
    * order flip — averaging it in would fake consistency). Two
    * partial-aggregable hash aggregates (match-keyed, then pair-keyed);
    * any duel volume. */
  def orderConsistency(duels: DataFrame, matchCol: String, winnerCol: String,
                       loserCol: String, firstCol: String): DataFrame = {
    val m = loud(col(matchCol), "match id")
    val w = loud(col(winnerCol), "winner")
    val l = loud(col(loserCol), "loser")
    val f = loud(col(firstCol), "first-presented player")
    val perMatch = duels.select(m.as("m"), w.as("w"), l.as("l"), f.as("f"))
      .select(col("m"),
        when(col("w") === col("l"), raise_error(concat(
            lit("Preference: self-duel for player "), col("w"),
            lit(" — a player cannot beat itself; clean the duel log"))))
          .when(col("f") =!= col("w") && col("f") =!= col("l"),
            raise_error(concat(
              lit("Preference: first-presented player "), col("f"),
              lit(" is neither duel side — clean the duel log"))))
          .otherwise(least(col("w"), col("l"))).as("lo"),
        greatest(col("w"), col("l")).as("hi"),
        when(col("w") <= col("l"), 1L).otherwise(0L).as("win_lo"),
        when(col("f") === least(col("w"), col("l")), 1L).otherwise(0L)
          .as("first_lo"),
        when(col("f") === col("w"), 1L).otherwise(0L).as("followed"))
      .groupBy(col("m"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n"), sum(col("win_lo")).as("wins"),
        sum(col("first_lo")).as("firsts"), sum(col("followed")).as("fol"))
    // a match id that maps to MORE THAN ONE player pair is a key
    // collision, not two unpaired matches — it must fail loudly like
    // every other log defect, not silently split into n=1 groups and
    // deflate the pairing rate. One match-keyed aggregate over the
    // (already match-sized) perMatch frame + a match-keyed join back.
    val pairsPerMatch = perMatch.groupBy(col("m"))
      .agg(count(lit(1)).as("__np"))
    // match-level contracts live in the columns the pair rollup reads
    // (the pruning-hazard discipline): key collisions, >2 judgments and
    // same-order "pairs" all fail loudly before they can skew a rate
    val nGuarded = when(col("__np") > 1L, raise_error(concat(
        lit("Preference: match "), col("m"),
        lit(" names more than one player pair — a match id must " +
          "identify ONE comparison; re-key the duel log"))))
      .when(col("n") > 2L, raise_error(concat(
        lit("Preference: match "), col("m"),
        lit(" has more than two judgments — order-consistency pairs " +
          "exactly two; dedupe the duel log"))))
      .when(col("n") === 2L && col("firsts") =!= 1L, raise_error(concat(
        lit("Preference: match "), col("m"),
        lit(" was judged twice in the SAME presentation order — " +
          "a re-judge, not an order flip; re-key or drop it"))))
      .otherwise(col("n"))
    perMatch.join(pairsPerMatch, Seq("m"))
      .select(col("lo"), col("hi"), nGuarded.as("n"), col("wins"), col("fol"))
      .groupBy(col("lo"), col("hi"))
      .agg(count(lit(1)).as("n_matches"),
        sum(when(col("n") === 2L, 1L).otherwise(0L)).as("n_paired"),
        sum(when(col("n") === 2L &&
            (col("wins") === 0L || col("wins") === 2L), 1L).otherwise(0L))
          .as("n_consistent"),
        sum(when(col("n") === 2L && col("fol") === 2L, 1L).otherwise(0L))
          .as("n_both_followed"))
      .select(col("lo").as("player_a"), col("hi").as("player_b"),
        col("n_matches"), col("n_paired"), col("n_consistent"),
        col("n_both_followed"),
        when(col("n_paired") > 0L,
          expr(s"($Scale * n_consistent) div n_paired"))
          .as("consistency_micro"))
  }

  /** Bradley–Terry strengths from a duel log: `(player, n_games,
    * n_wins, strength_micro)`, strengths normalized to mean 10⁶ per
    * iteration (BT is scale-free; the normalization IS the replayable
    * gauge fix). Each of the `iterations` MM rounds, all integer:
    * {{{
    * denom_i = Σ_j (n_ij · 10¹²) div (s_i + s_j)          // real opponents
    *         + (2 · 10¹²) div (s_i + 10⁶)                 // virtual prior
    * raw_i   = max(1, ((wins_i + 1) · 10¹²) div denom_i)
    * s_i     = max(1, (raw_i · 10⁶) div (Σ raw div n_players))
    * }}}
    * Long-regime bound: `n_ij·10¹²` caps per-pair games at ~9·10⁶ and
    * `raw·10⁶` caps wins·players at ~10⁷ — an arena/eval leaderboard
    * (tens-to-hundreds of models) lives far inside; ANSI sessions fail
    * loudly past it. Scale shape: duels collapse ONCE to the pair table
    * (hash aggregate); per round two player-keyed joins over the
    * pair-sized edge list + one aggregate, each `localCheckpoint`ed; the
    * normalizer rides a provably-1-row crossJoin. Player count is a
    * driver scalar by necessity (it seeds the gauge) — players are
    * models/policies by contract, never an unbounded id space. */
  def bradleyTerry(duels: DataFrame, winnerCol: String, loserCol: String,
                   iterations: Int): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations out of [1, 50]: $iterations")
    val pairs = winRates(duels, winnerCol, loserCol)
      .select(col("player_a").as("lo"), col("player_b").as("hi"),
        col("n_games"), col("n_wins_a").as("wins_lo"))
      .localCheckpoint(eager = true)
    val e = pairs.select(col("lo").as("i"), col("hi").as("j"), col("n_games").as("n"))
      .unionAll(pairs.select(col("hi").as("i"), col("lo").as("j"),
        col("n_games").as("n")))
      .localCheckpoint(eager = true)
    val (stats, cS) = Ckpt.counts(pairs
      .select(col("lo").as("p"), col("n_games").as("g"), col("wins_lo").as("v"))
      .unionAll(pairs.select(col("hi").as("p"), col("n_games").as("g"),
        (col("n_games") - col("wins_lo")).as("v")))
      .groupBy(col("p"))
      .agg(sum(col("g")).as("n_games"), sum(col("v")).as("n_wins")),
      "n" -> lit(true))
    val nPlayers = cS("n")
    require(nPlayers >= 2L, "need at least two players to rank")
    var s = stats.select(col("p"), lit(Scale).as("s"))
    for (_ <- 1 to iterations) {
      val dp = e
        .join(s.select(col("p").as("i"), col("s").as("si")), Seq("i"))
        .join(s.select(col("p").as("j"), col("s").as("sj")), Seq("j"))
        .select(col("i").as("p"), expr(s"(n * ${Scale2}L) div (si + sj)").as("t"))
        .groupBy(col("p")).agg(sum(col("t")).as("dp"))
      val raw = s
        .join(stats.select(col("p"), col("n_wins")), Seq("p"))
        .join(dp, Seq("p"), "left")
        .select(col("p"), greatest(lit(1L), expr(
          s"((n_wins + 1) * ${Scale2}L) div " +
            s"(coalesce(dp, 0L) + (2 * ${Scale2}L) div (s + ${Scale}L))"))
          .as("raw"))
      val mean = raw.agg(expr(s"sum(raw) div ${nPlayers}L").as("mean"))
      s = raw.crossJoin(mean)
        .select(col("p"),
          greatest(lit(1L), expr(s"(raw * ${Scale}L) div mean")).as("s"))
        .localCheckpoint(eager = true)
    }
    stats.join(s, Seq("p"))
      .select(col("p").as("player"), col("n_games"), col("n_wins"),
        col("s").as("strength_micro"))
  }
}
