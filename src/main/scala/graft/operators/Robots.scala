package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Robots Exclusion Protocol (RFC 9309) — the politeness gate a crawl
  * frontier consults before admitting a URL. Two relational halves:
  *
  *  - [[parse]]: robots.txt text → one rule row per (host, allow, pattern),
  *    group semantics per the RFC — consecutive `User-agent:` lines
  *    accumulate into one group, rules attach to every agent of their
  *    group, a `User-agent:` line after rules STARTS a new group; the
  *    effective rule set is the most specific matching group (the named
  *    agent's groups if any exist for the host, else the `*` groups; a
  *    host with named-agent groups ignores its `*` groups entirely, per
  *    RFC 9309 §2.2.1). Entirely builtin expressions: one line explode,
  *    two host-keyed window passes, no UDFs.
  *  - [[isAllowed]] / [[filterAllowed]]: the longest-match decision —
  *    among the host's rules whose pattern matches the URL path, the
  *    LONGEST pattern wins and Allow wins length ties (§2.2.2); no
  *    matching rule (or no robots.txt for the host at all) means allowed,
  *    the RFC default. Patterns support the `*` wildcard and the trailing
  *    `$` end anchor (§2.2.3), compiled to an anchored regex with every
  *    other character quoted.
  *
  * Scale shape: the rules side is dashboard-sized (|hosts| × a handful of
  * rules) — it is collected once and rides the codegen'd
  * [[graft.functions.RobotsDecision]] expression as a plan literal whose
  * patterns compile once per task (amortized across the task's whole
  * partition), so the URL side sees a pure narrow
  * projection: no join, no shuffle, no per-row Pattern.compile (a joined
  * non-foldable `regexp_like` would recompile per row × rule). Parsing
  * cost is one pass over robots documents, a corpus ~|hosts| in size,
  * negligible next to the frontier it guards.
  */
object Robots {

  /** RFC 9309 path pattern → anchored Java regex: `*` → `.*`, a TRAILING
    * `$` → the end anchor, everything else matched literally (`$`
    * anywhere else is literal — the RFC reserves only the final
    * position). Runs at rules-collect time (|rules|-bounded), never
    * per URL. */
  private[graft] def patternRegex(pattern: String): String = {
    // quote regex metacharacters EXCEPT * and $ (handled below)
    val quoted = pattern.replaceAll("([\\\\.\\[\\]{}()+\\-?^|])", "\\\\$1")
    val starred = quoted.replace("*", ".*")
    val anchored =
      if (starred.endsWith("$")) starred.dropRight(1).replace("$", "\\$") + "$"
      else starred.replace("$", "\\$")
    "^" + anchored
  }

  /** robots.txt corpora → rule rows (hostCol, `allow` BOOLEAN, `pattern`
    * STRING): the effective group's rules for `agent` (case-insensitive
    * product token, per the RFC). Hosts whose robots.txt yields no
    * applicable rules emit nothing — absent rows ARE the allow-all
    * default downstream. Empty-pattern rules (`Disallow:` with no value =
    * allow everything) drop at parse, matching the RFC. */
  /** The robots.txt line tokenizer — ONE definition for [[parse]] and
    * [[sitemaps]] (one grammar, two consumers: a comment-handling fix
    * must reach both): one row per line in file order, comments (#…)
    * stripped, trimmed, empties dropped. */
  private def tokenizedLines(robots: DataFrame, hostCol: String,
                             txtCol: String): DataFrame =
    robots.select(col(hostCol),
        posexplode(split(col(txtCol), "\r?\n")).as(Seq("__pos", "__line")))
      .select(col(hostCol), col("__pos"),
        trim(regexp_replace(col("__line"), "#.*$", "")).as("__line"))
      .filter(length(col("__line")) > 0)

  def parse(robots: DataFrame, hostCol: String, txtCol: String,
            agent: String): DataFrame = {
    val a = agent.toLowerCase(java.util.Locale.ROOT)
    val lines = tokenizedLines(robots, hostCol, txtCol)
    val typed = lines.select(col(hostCol), col("__pos"),
      lower(trim(regexp_extract(col("__line"), "^([^:]+):", 1))).as("__key"),
      trim(regexp_extract(col("__line"), "^[^:]+:(.*)$", 1)).as("__val"))
    val w = Window.partitionBy(col(hostCol)).orderBy(col("__pos"))
    // a user-agent line whose predecessor is NOT a user-agent line starts
    // a new group (consecutive UA lines accumulate into one group)
    val grouped = typed
      .withColumn("__isUa", (col("__key") === "user-agent").cast("int"))
      .withColumn("__start",
        when(col("__isUa") === 1 &&
          coalesce(lag(col("__isUa"), 1).over(w), lit(0)) === 0, 1).otherwise(0))
      .withColumn("__gid", sum(col("__start")).over(w))
    // per group: does it name our agent? does it name *?
    val gw = Window.partitionBy(col(hostCol), col("__gid"))
    val flagged = grouped
      .withColumn("__gNamed", max(when(col("__isUa") === 1 &&
        lower(col("__val")) === a, 1).otherwise(0)).over(gw))
      .withColumn("__gStar", max(when(col("__isUa") === 1 &&
        col("__val") === "*", 1).otherwise(0)).over(gw))
    // a host with ANY group naming the agent uses ONLY those groups
    val hw = Window.partitionBy(col(hostCol))
    val scoped = flagged
      .withColumn("__hNamed", max(col("__gNamed")).over(hw))
      .filter(when(col("__hNamed") === 1, col("__gNamed") === 1)
        .otherwise(col("__gStar") === 1))
    scoped
      .filter(col("__key").isin("allow", "disallow") && length(col("__val")) > 0)
      .select(col(hostCol), (col("__key") === "allow").as("allow"),
        col("__val").as("pattern"))
  }

  /** `urls` plus an `allowed` BOOLEAN: the RFC longest-match decision
    * against `rules` ((hostCol, allow, pattern) — [[parse]]'s shape).
    * URLs on hosts with no rules are allowed. `pathCol` is the URL
    * path(+query) the RFC matches on — derive upstream.
    *
    * The rules are COLLECTED (a robots corpus is |hosts|-bounded — the
    * centroid/vocab collect precedent) and ride the codegen'd
    * [[graft.functions.RobotsDecision]] expression as a plan literal whose
    * patterns compile once per task — a joined-rules formulation would
    * recompile every non-foldable regex per (row × rule) on the 100 TB
    * side. No join, no shuffle: the decision is a pure narrow projection
    * that fuses into the URL scan (plan-pinned). */
  def isAllowed(urls: DataFrame, rules: DataFrame, hostCol: String,
                pathCol: String): DataFrame = {
    require(!urls.columns.contains("allowed"),
      "Robots.isAllowed: urls already has an 'allowed' column — rename it")
    // NULL-bearing rule rows (hand-built frames; parse can't produce
    // them) degrade like the pre-expression formulation did: a rule with
    // no pattern or no verdict decides nothing and is dropped
    val byHost: Map[String, Seq[(Int, Boolean, String)]] =
      rules.select(col(hostCol), col("allow"), col("pattern")).collect()
        .filter(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2))
        .groupBy(_.getString(0))
        .map { case (h, rows) =>
          h -> rows.toSeq.map(r =>
            (r.getString(2).length, r.getBoolean(1), patternRegex(r.getString(2))))
        }
    // NULL host/path propagates NULL out of the expression -> the RFC
    // allow default via the coalesce
    urls.withColumn("allowed", coalesce(
      graft.functions.RobotsDecision.column(col(hostCol), col(pathCol), byHost),
      lit(true)))
  }

  /** The gate itself: only the allowed URLs survive. */
  def filterAllowed(urls: DataFrame, rules: DataFrame, hostCol: String,
                    pathCol: String): DataFrame =
    isAllowed(urls, rules, hostCol, pathCol).filter(col("allowed")).drop("allowed")

  /** The `Sitemap:` directives of each host's robots.txt — the frontier's
    * SEED list (the sitemaps.org protocol): group-INDEPENDENT per the
    * spec, so they surface from anywhere in the file — before any group,
    * between groups, inside one — and however the key is cased. Comments
    * strip exactly as in [[parse]] (one tokenizer, two consumers).
    * Output: (hostCol, `sitemap_url`), one row per directive; hosts
    * without directives emit nothing. One line explode over a
    * |hosts|-sized corpus — negligible next to the frontier it seeds. */
  def sitemaps(robots: DataFrame, hostCol: String, txtCol: String): DataFrame =
    tokenizedLines(robots, hostCol, txtCol)
      .select(col(hostCol),
        trim(regexp_extract(col("__line"), "(?i)^sitemap[ \t]*:(.*)$", 1))
          .as("sitemap_url"))
      .filter(length(col("sitemap_url")) > 0)

  /** Join-form twin of [[isAllowed]] — decision-identical, different scale
    * shape (the `Vocab.encodeJoin`/`Classifier.trainJoin` pairing): the
    * rules NEVER collect. [[isAllowed]]'s plan literal is faster while the
    * whole rules table fits a task closure (no join at all), but a
    * broad-crawl frontier has 10⁶+ hosts and ~hundreds of MB of rules —
    * past a closure's ceiling. Here the rules aggregate once into
    * per-host arrays (a |hosts|-keyed shuffle on the SMALL side), then
    * join host-keyed onto the URL stream — one row per URL, no
    * (row × rule) explosion — and the codegen'd
    * [[graft.functions.RobotsDecisionArray]] expression decides against
    * the row's array with a per-task compiled-pattern LRU (sort-merge
    * join output is host-clustered, so each task compiles a host's rules
    * once, not once per URL). AQE picks broadcast vs shuffle for the join
    * by the rules side's ACTUAL size — the escape hatch is automatic. */
  def isAllowedJoin(urls: DataFrame, rules: DataFrame, hostCol: String,
                    pathCol: String): DataFrame = {
    require(!urls.columns.contains("allowed"),
      "Robots.isAllowedJoin: urls already has an 'allowed' column — rename it")
    require(!urls.columns.contains("__rules"),
      "Robots.isAllowedJoin: urls already has a '__rules' column — rename it")
    // NULL-host rule rows can't join; NULL allow/pattern fields are
    // skipped inside the expression — both degrade exactly like the
    // literal twin's collect-time filter
    val perHost = rules
      .filter(col(hostCol).isNotNull)
      .groupBy(col(hostCol))
      .agg(collect_list(struct(col("allow"), col("pattern"))).as("__rules"))
    urls.join(perHost, Seq(hostCol), "left")
      .withColumn("allowed", coalesce(
        graft.functions.RobotsDecisionArray.column(col(pathCol), col("__rules")),
        lit(true)))
      .drop("__rules")
  }
}
