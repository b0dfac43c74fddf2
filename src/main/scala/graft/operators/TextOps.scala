package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Text-analysis operators for a training-data pipeline: tokenization,
  * token counting (whitespace + BPE-ish regex), quality scoring, n-gram
  * language identification, and document fingerprinting. All built from
  * codegen'd Catalyst expressions (no UDFs), so they stay inside
  * whole-stage codegen and scale linearly with input bytes.
  */
object TextOps {

  /** Whitespace tokens; empty / all-space text → empty array (split would
    * yield [""] — normalized here so token counts are honest zeros). */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Sentence segmentation with stable positions: split on terminator
    * runs ([.!?]+), keep the 0-based split index as `sent_id` (so ids
    * survive the empty-segment filter identically in any engine), trim,
    * drop empties. Per-row generator work — shuffle-free, the row-count
    * expansion step before sentence-level chunking/scoring. Terminator
    * splitting is deliberately regex-simple (no lookbehind): RE2-class
    * engines (DuckDB) can mirror it exactly. */
  def sentences(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    docs
      .select(col(idCol),
        posexplode(split(col(textCol), "[.!?]+")).as(Seq("sent_id", "raw")))
      .withColumn("sentence", trim(col("raw")))
      .filter(length(col("sentence")) > 0)
      .select(col(idCol), col("sent_id"), col("sentence"),
        tokenCount(col("sentence")).as("n_tokens"))

  /** BPE-style pre-tokenizer count: letter runs, digit runs, and single
    * punctuation each count as one piece — the standard approximation of
    * GPT-2-family pre-tokenization without a vocab. */
  val bpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokenCount(text: Column): Column = regexp_count(text, lit(bpePattern))

  /** Heuristic quality score in [0,1]:
    * 0.4·min(1, tokens/100) + 0.3·(distinct tokens / tokens) +
    * 0.3·min(1, 5·stopwords/tokens). Deterministic double arithmetic —
    * mirrored exactly by the DuckDB oracle in TextQueries. */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  def qualityScore(text: Column): Column = {
    val t = tokens(lower(text))
    val n = size(t)
    // codegen'd kernel, not filter+isin: higher-order filter is a
    // CodegenFallback whose lambda interprets per token (profiled hot)
    val stop = GraftFunctions.token_set_count(t, stopwords)
    when(n === 0, lit(0.0)).otherwise(
      lit(0.4) * least(lit(1.0), n / lit(100.0)) +
        lit(0.3) * (size(array_distinct(t)) / n.cast("double")) +
        lit(0.3) * least(lit(1.0), lit(5.0) * stop / n.cast("double")))
  }

  /** Small public stopword profiles per language (top function words). */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "por"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une", "du", "est"),
    "de" -> Seq("der", "die", "das", "und", "in", "den", "von", "zu", "mit", "ist"))

  /** n-gram/stopword language ID: score = profile-token hits per token;
    * CJK character ratio short-circuits to "zh"; ties and no-hit default
    * to "und". Struct-max keeps the whole argmax inside codegen. */
  def langId(text: Column): Column = {
    val t = tokens(lower(text))
    val n = greatest(size(t), lit(1)).cast("double")
    val scored = langProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(
        (GraftFunctions.token_set_count(t, words) / n).as("score"),
        lit(lang).as("lang"))
    }
    // greatest() over (score, lang) structs = lexicographic argmax, the
    // semantics the DuckDB oracle mirrors with list_sort. When used as a
    // GROUPING expression this evaluates interpreted (measured ~0.2 ms/row
    // — an array-argmax reformulation measured slower still, since the
    // aggregate path gives grouping keys no subexpression reuse); as a
    // projected value it codegens fine. Linear in bytes either way.
    val best = greatest(scored: _*)
    val cjk = regexp_count(text, lit("[\\u4e00-\\u9fff]")).cast("double") /
      greatest(length(text), lit(1)).cast("double")
    when(cjk > 0.3, lit("zh"))
      .when(best.getField("score") > 0.0, best.getField("lang"))
      .otherwise(lit("und"))
  }

  /** FNV-1a rolling-hash document fingerprint (custom codegen'd
    * expression). */
  def fingerprint(text: Column): Column = GraftFunctions.rolling_fingerprint(text)

  /** PII scrub patterns — deliberately engine-portable regex (no
    * lookaround, no backreferences), so the same pattern text runs under
    * Java regex (Spark codegen) and RE2-family engines identically. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Redact emails and IPv4 addresses with typed placeholders; pure
    * per-row regexp_replace chain — codegen'd, shuffle-free, linear in
    * bytes (the shape of a 100 TB scrubbing pass). */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "[EMAIL]"),
      ipv4Pattern, "[IP]")

  def piiEmailCount(text: Column): Column = regexp_count(text, lit(emailPattern))
  def piiIpCount(text: Column): Column = regexp_count(text, lit(ipv4Pattern))

  /** Benchmark-contamination check (GPT-3-style n-gram overlap): for each
    * non-benchmark document, the fraction of its distinct word k-grams
    * that appear anywhere in the benchmark documents (`benchFilter`
    * selects those). The benchmark gram set is inherently small (eval
    * sets are MBs against a 100 TB corpus), so membership is a broadcast
    * left join — map-side only; the single shuffle is the per-document
    * count aggregation. Output: (idCol, n_grams, n_contaminated,
    * contamination).
    *
    * Grams travel as distinct 64-bit rolling hashes
    * ([[graft.functions.HashKernels.shingleHashes]]; 8 bytes each), not
    * k-token strings (~k× the document bytes): membership is the only
    * thing probed, so the explode, the broadcast set, and the join keys
    * all shrink by roughly the gram length. A doc with fewer than k
    * tokens is its own single gram; a token-empty doc contributes one
    * sentinel gram (mirroring the "" gram of the string formulation), so
    * every input doc stays present in the output. Cross-doc hash
    * collisions (~n²/2⁶⁴) are the standard accepted trade. */
  def contamination(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      benchFilter: Column,
      k: Int = 5): org.apache.spark.sql.DataFrame =
    contaminationFromToks(
      docs.select(col(idCol), benchFilter.as("is_bench"),
        tokens(col(textCol)).as("toks")),
      idCol, k)

  /** [[contamination]] over a pre-tokenized corpus — `pre` must carry
    * (idCol, is_bench, toks). Split out (r18 optimization round) so the
    * q199 ladder's keep-filter reuses the ladder's one tokenization
    * instead of re-splitting the cleaned text. */
  private[graft] def contaminationFromToks(
      pre: org.apache.spark.sql.DataFrame,
      idCol: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    val grams = pre
      .select(col(idCol), col("is_bench"),
        explode(
          when(size(col("toks")) === 0, array(lit(Long.MinValue)))
            .otherwise(GraftFunctions.shingle_hashes(col("toks"), k))).as("gram"))
    val bench = grams.filter(col("is_bench"))
      .select(col("gram")).distinct().withColumn("hit", lit(1))
    grams.filter(!col("is_bench"))
      .join(broadcast(bench), Seq("gram"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_contaminated"))
      .withColumn("contamination", col("n_contaminated") / col("n_grams"))
  }

  /** Within-document repetition (C4-style quality signal): 1 − distinct/
    * total word k-grams. Pure per-row array expressions — no shuffle,
    * fully codegen'd. Output: (idCol, n_grams, n_distinct, repetition). */
  def repetitionStats(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3): org.apache.spark.sql.DataFrame =
    docs
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol), Dedup.shinglesAll("toks", k).as("grams"))
      .select(col(idCol),
        size(col("grams")).as("n_grams"),
        size(array_distinct(col("grams"))).as("n_distinct"))
      .withColumn("repetition", lit(1.0) - col("n_distinct") / col("n_grams"))

  /** Token-window document chunking — the context-length splitting pass
    * that precedes tokenization-and-packing in a training pipeline.
    * Chunk `c` covers tokens `[c·step, c·step + width)`; with
    * `step < width` consecutive chunks overlap by `width − step` tokens.
    * Chunk starts run to the last token, so trailing chunks may be
    * shorter than `width` (never empty). Pure per-row explode +
    * array-slice — shuffle-free, codegen'd, embarrassingly parallel;
    * token-empty documents produce no chunks. */
  def chunkByTokens(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      width: Int,
      step: Int): org.apache.spark.sql.DataFrame =
    chunkByTokensFromToks(
      docs.select(col(idCol), tokens(col(textCol)).as("toks")),
      idCol, "toks", width, step)

  /** [[chunkByTokens]] over a pre-tokenized corpus — split out (r18
    * optimization round) so the q199 ladder chunks its one shared token
    * array instead of re-splitting the rebuilt string. */
  private[graft] def chunkByTokensFromToks(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      toksCol: String,
      width: Int,
      step: Int): org.apache.spark.sql.DataFrame = {
    require(width > 0 && step > 0, s"width=$width and step=$step must be positive")
    docs
      .select(col(idCol), col(toksCol).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col(idCol), col("toks"),
        posexplode(sequence(lit(0), size(col("toks")) - 1, lit(step)))
          .as(Seq("chunk_id", "start")))
      .select(col(idCol), col("chunk_id"),
        slice(col("toks"), col("start") + 1, lit(width)).as("chunk_toks"))
      .select(col(idCol), col("chunk_id"),
        size(col("chunk_toks")).as("n_tok"),
        array_join(col("chunk_toks"), " ").as("chunk"))
  }

  /** Cross-document LINE-level boilerplate removal (the CCNet /
    * RefinedWeb paragraph-dedup pass): drop every line whose document
    * frequency exceeds `maxDocFreq` — cookie banners, nav bars, legal
    * footers repeat across a site's pages verbatim, and document-level
    * dedup never sees them because the surrounding content differs. The
    * natural position is right after [[htmlText]] (whose block
    * segmentation produces exactly the line unit this consumes) and
    * before the quality/chunking passes.
    *
    * Scale shape: lines travel as md5 hashes through the doc-frequency
    * aggregation and the membership join — the corpus's text bytes are
    * never shuffled (same discipline as the dedup shinglers). The
    * frequency table is one map-side-combinable aggregate reduced to
    * the BANNED hashes only (df > maxDocFreq) before the membership
    * join, so the join's build side is the boilerplate tail, not the
    * distinct-line universe; removed positions aggregate per doc
    * (integer state bounded by document size) and reassembly is a
    * per-row fold over the doc's own split — no doc-keyed shuffle of
    * line text at all. A doc whose every line is boilerplate survives
    * as an EMPTY string with `n_removed` = its line count — corpus
    * accounting must not silently lose rows.
    *
    * Output: (idCol, clean_text, n_kept, n_removed). Line order is
    * preserved by position, so the result is deterministic under any
    * partitioning. */
  def stripBoilerplateLines(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      maxDocFreq: Long): org.apache.spark.sql.DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq=$maxDocFreq must be >= 1")
    // NULL text reads as the empty document (one "" line): split(NULL)
    // explodes to zero rows and the doc would vanish from the output
    // with no n_removed evidence — the silent row loss the contract
    // below forbids. A real crawl HAS null extractions.
    val base = docs.select(col(idCol),
      split(coalesce(col(textCol), lit("")), "\n").as("ls"))
    // line text never leaves its doc row (r17 optimization round): the
    // exploded view carries only (id, pos, md5) — the frequency
    // aggregate, the ban-set membership join, and the removed-position
    // aggregate all move 16-byte hashes and integers, and reassembly
    // is a PER-ROW array fold over the doc's own split, not a doc-keyed
    // collect_list of line text. Two shuffles total (hash-keyed
    // frequency + doc-keyed removed positions), neither carrying text.
    val lines = base
      .select(col(idCol), posexplode(col("ls")).as(Seq("pos", "line")))
      .select(col(idCol), col("pos"), md5(col("line")).as("h"))
    // countDistinct(id), not count(1): a line repeated WITHIN one doc is
    // that document's own structure, not cross-site boilerplate. Only
    // the BANNED hashes (docfreq > maxDocFreq — the boilerplate tail,
    // tiny relative to the distinct-line universe) survive into the
    // membership join, so AQE can broadcast it where the old
    // full-frequency inner join shuffled every line row.
    val banned = lines.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("docfreq"))
      .filter(col("docfreq") > maxDocFreq)
      .select(col("h"))
    val removedPos = lines.join(banned, Seq("h"))
      .groupBy(col(idCol)).agg(collect_set(col("pos")).as("rp"))
    base.join(removedPos, Seq(idCol), "left")
      .select(col(idCol), col("ls"),
        coalesce(col("rp"), expr("cast(array() as array<int>)")).as("rp"))
      .select(col(idCol),
        array_join(
          expr("transform(filter(transform(ls, (l, i) -> " +
            "struct(l as l, i as i)), x -> NOT array_contains(rp, x.i)), " +
            "x -> x.l)"),
          "\n").as("clean_text"),
        (size(col("ls")) - size(col("rp"))).cast("long").as("n_kept"),
        size(col("rp")).cast("long").as("n_removed"))
  }

  /** The q199-ladder fusion of [[stripBoilerplateLines]] straight to the
    * TOKEN stream (r18 optimization round, VERDICT r17 item 1): input is
    * the PRE-SPLIT line array `(idCol, lsCol)`, output `(idCol, t)` — the
    * token array of the surviving lines — so the clean-text string
    * reassembly and the downstream re-tokenization between the strip and
    * span stages disappear. Same ban-set aggregate, same membership
    * join, same removed-position aggregate as the string form; line text
    * still never shuffles.
    *
    * Bit-equivalence to `tokens(stripBoilerplateLines(...).clean_text)`
    * REQUIRES the [[htmlText]] whitespace discipline on the input lines
    * (no tabs/CR — horizontal runs collapsed to single spaces — no
    * leading/trailing spaces per line, no empty interior lines): under
    * it, `tokens(array_join(kept, "\n")) ≡
    * flatten(transform(kept, tokens))` — a line with, say, a trailing
    * tab would break the identity (tokens' trim only strips 0x20, so
    * `split` would emit a trailing "" token the joined form never
    * sees). The q199 oracle replays the UNFUSED formulation in DuckDB
    * and pins the identity bit-for-bit on the fixtures. */
  private[graft] def stripBoilerplateToks(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      lsCol: String,
      maxDocFreq: Long): org.apache.spark.sql.DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq=$maxDocFreq must be >= 1")
    val base = docs.select(col(idCol), col(lsCol).as("ls"))
    val lines = base
      .select(col(idCol), posexplode(col("ls")).as(Seq("pos", "line")))
      .select(col(idCol), col("pos"), md5(col("line")).as("h"))
    val banned = lines.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("docfreq"))
      .filter(col("docfreq") > maxDocFreq)
      .select(col("h"))
    val removedPos = lines.join(banned, Seq("h"))
      .groupBy(col(idCol)).agg(collect_set(col("pos")).as("rp"))
    base.join(removedPos, Seq(idCol), "left")
      .select(col(idCol), col("ls"),
        coalesce(col("rp"), expr("cast(array() as array<int>)")).as("rp"))
      .select(col(idCol),
        flatten(transform(
          filter(
            transform(col("ls"), (l, i) => struct(l.as("l"), i.as("i"))),
            x => !array_contains(col("rp"), x.getField("i"))),
          x => tokens(x.getField("l")))).as("t"))
  }

  /** URL host: the authority between `scheme://` and the first
    * `/ ? #` or `:port`, lowercased (hosts are case-insensitive; paths
    * are not, so the WHOLE url is never lowercased). An optional
    * userinfo segment (`user:pass@`) is skipped — greedy up to the LAST
    * `@` before the path, matching WHATWG parsing, so credentialed
    * crawl URLs key by the host, not the username (ADVICE r15).
    * Engine-portable regex, no java.net.URI (whose parsing rules differ
    * across JDKs and don't exist in DuckDB). A non-matching (invalid)
    * url yields an empty string — regexp_extract's no-match value in
    * both engines — a NULL url stays NULL in both (null-propagation,
    * not no-match). */
  val urlHostPattern = "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?([^/?#:@]+)"
  def urlHost(url: Column): Column =
    lower(regexp_extract(url, urlHostPattern, 1))

  /** [[urlHost]] as DuckDB SQL over expression text `e` — the oracle
    * spelling is generated from the same pattern val, so the two
    * engines can never drift. */
  def urlHostSql(e: String): String =
    s"lower(regexp_extract($e, '$urlHostPattern', 1))"

  /** Pinned ccSLD exception list (VERDICT r15 item 4): the second-level
    * public suffixes under which registration happens one label deeper
    * (`example.co.uk`, not `co.uk`). Deliberately NOT the full Public
    * Suffix List — that is a mutable external table (thousands of
    * entries, private registries like github.io) whose snapshot would
    * drift between engines and over time. This is an explicit,
    * versioned, in-repo subset of the highest-traffic ccSLDs — the same
    * determinism trade the confusable table makes. Sorted, so the
    * rendered SQL literal list is stable. */
  val ccSlds: Seq[String] = Seq(
    "ac.jp", "ac.uk", "co.id", "co.il", "co.in", "co.jp", "co.kr",
    "co.nz", "co.th", "co.uk", "co.za", "com.ar", "com.au", "com.br",
    "com.cn", "com.hk", "com.mx", "com.my", "com.ph", "com.sg",
    "com.sa", "com.tr", "com.tw", "com.vn", "edu.au", "edu.cn",
    "go.jp", "gov.au", "gov.uk", "govt.nz", "ne.jp", "net.au",
    "net.cn", "net.uk", "or.jp", "or.kr", "org.au", "org.br",
    "org.cn", "org.nz", "org.uk").sorted

  private val twoLabelPattern = "([^.]+\\.[^.]+)$"
  private val threeLabelPattern = "([^.]+\\.[^.]+\\.[^.]+)$"
  private val trailingDotPattern = "\\.+$"

  /** Registrable domain: the last two dot labels (`en.src3press.com` →
    * `src3press.com`), except under a pinned [[ccSlds]] suffix where it
    * is the last THREE (`www.example.co.uk` → `example.co.uk`).
    * Trailing dots (FQDN spelling `example.com.`, common in crawl
    * data) are stripped first instead of folding the host into the
    * invalid-URL bucket (ADVICE r15). Hosts that need no registrable
    * domain — single labels (localhost), a bare ccSLD (`co.uk`
    * itself) — yield an empty string. Pure codegen'd regex + IN-list
    * expressions, identical in DuckDB via [[registrableDomainSql]]. */
  def registrableDomain(host: Column): Column = {
    val h = regexp_replace(host, trailingDotPattern, "")
    val two = regexp_extract(h, twoLabelPattern, 1)
    val three = regexp_extract(h, threeLabelPattern, 1)
    when(two.isin(ccSlds: _*), three).otherwise(two)
  }

  /** [[registrableDomain]] as DuckDB SQL over expression text `e` —
    * generated from the same patterns and the same [[ccSlds]] list. */
  def registrableDomainSql(e: String): String = {
    val h = s"regexp_replace($e, '$trailingDotPattern', '', 'g')"
    val two = s"regexp_extract($h, '$twoLabelPattern', 1)"
    val three = s"regexp_extract($h, '$threeLabelPattern', 1)"
    val list = ccSlds.map(s => s"'$s'").mkString(", ")
    s"(CASE WHEN $two IN ($list) THEN $three ELSE $two END)"
  }

  /** Anchor-href extraction patterns (VERDICT r15 item 1) — one
    * portable pattern per HTML quote style (double, single, unquoted),
    * because a single pattern would need a backreference on the quote
    * char and backreferences are outside the Java∩RE2 subset. Each
    * pattern stays inside one tag (`[^>]*` never crosses `>`), matches
    * `<a`/`<A` with at least one whitespace char before the attribute
    * list, and captures the raw href value. Naive by contract (like the
    * rest of the markup chain): an attribute merely ENDING in `href`
    * (`data-href=`) also matches — the price of no speculative parser,
    * identical in both engines. */
  val hrefDqPattern = "(?i)<a\\s[^>]*href\\s*=\\s*\"([^\"]*)\""
  val hrefSqPattern = "(?i)<a\\s[^>]*href\\s*=\\s*'([^']*)'"
  val hrefUqPattern = "(?i)<a\\s[^>]*href\\s*=\\s*([^\\s'\">][^\\s>]*)"

  /** rel="nofollow" anchor OPENING tags — the three rel quote styles
    * as ONE alternation (unlike the href patterns, no capture group
    * must line up across alternatives, so alternation works without a
    * quote backreference — and one linear pass over the markup beats
    * three; measured on the q191 chain). Stripping the opening tag
    * before href extraction is how [[domainLinkEdges]] and
    * [[extractLinksSql]] honor the attribute: no opening tag, no href
    * match — the anchor text and `</a>` left behind carry no extractable
    * link. Naive by the markup
    * chain's standing contract: the quoted alternatives match
    * `nofollow` as a SUBSTRING of the rel value (correct for the
    * multi-token `rel="nofollow noopener"` form; also matches a
    * hypothetical `rel="nonofollowish"` — token-boundary tests need
    * lookaround), and `data-rel=` also matches, both identical in both
    * engines. */
  val nofollowPattern = "(?i)<a\\s[^>]*rel\\s*=\\s*" +
    "(\"[^\"]*nofollow[^\"]*\"|'[^']*nofollow[^']*'|nofollow)[^>]*>"

  /** All FOLLOWED anchor hrefs in raw markup, as a DuckDB SQL list —
    * the extraction [[domainLinkEdges]] runs. rel=nofollow anchors are
    * stripped first (they are an explicit "pass no ranking mass / don't
    * crawl" signal — a link graph that counts them misranks exactly the
    * spam they were invented to demote; 'g' flag = Java's replace-all
    * default), then the three quote-style extractions concatenate with
    * `||` (grouped by quote style, NOT document order — edge counting is
    * order-insensitive, and a positional merge would cost a sort for
    * nothing). A no-href anchor contributes nothing; an empty href=""
    * contributes an empty string (classified away downstream). */
  def extractLinksSql(e: String): String = {
    val stripped =
      s"regexp_replace($e, '${nofollowPattern.replace("'", "''")}', '', 'g')"
    Seq(hrefDqPattern, hrefSqPattern, hrefUqPattern)
      .map(p => s"regexp_extract_all($stripped, '${p.replace("'", "''")}', 1)")
      .mkString(" || ")
  }

  private val schemePattern = "^[a-zA-Z][a-zA-Z0-9+.-]*:"
  private val httpPattern = "(?i)^https?://"
  private val protoRelHostPattern = "^//(?:[^/?#]*@)?([^/?#:@]+)"

  /** Resolve one raw href to the registrable domain it links to, given
    * the linking page's own domain:
    *  - empty and fragment-only (`#…`) hrefs → NULL (no edge);
    *  - absolute http(s) URLs → [[registrableDomain]] of their host;
    *  - any other scheme (mailto:, javascript:, tel:, ftp:) → NULL —
    *    not part of the document link graph;
    *  - protocol-relative `//host/…` → the host's registrable domain;
    *  - everything else is a relative path → the SOURCE domain (a
    *    self-edge, which is what crawl-graph analyses expect of
    *    intra-site navigation).
    * Space-only trim on both engines (the deterministic subset of the
    * HTML spec's URL whitespace stripping). Pure per-row CASE over
    * codegen'd regexes — mirrored by [[linkDomainSql]]. A NULL href
    * (never produced by the href extraction — regexp_extract_all yields
    * strings) falls through every predicate to the relative branch on
    * BOTH engines; callers feeding hrefs from another source should
    * null-filter first. */
  def linkDomain(href: Column, srcDomain: Column): Column = {
    val h = trim(href)
    // ONE registrableDomain fold shared by both absolute-href branches
    // (r17 optimization round): the http and protocol-relative branches
    // first resolve a HOST, then the single shared fold maps it to the
    // registrable domain. Inlining registrableDomain twice doubled the
    // generated code of every consumer (the r17 bench log showed the
    // q191-family Generate consumer failing janino's 64 KB method limit
    // into interpreted fallback). Branch equivalence to the previous
    // per-branch form: `//…` never matches schemePattern (starts with
    // `/`), http matches BEFORE the scheme test in both forms, and a
    // NULL href still falls through every predicate to the relative
    // branch (rlike/startsWith on NULL skip their `when`).
    val host = when(h.rlike(httpPattern), urlHost(h))
      .when(h.startsWith("//"),
        lower(regexp_extract(h, protoRelHostPattern, 1)))
    when(h === "" || h.startsWith("#"), lit(null).cast("string"))
      .when(host.isNotNull, registrableDomain(host))
      .when(h.rlike(schemePattern), lit(null).cast("string"))
      .otherwise(srcDomain)
  }

  /** [[linkDomain]] as DuckDB SQL over href expression `e` and source
    * domain expression `srcE` — same patterns, same branch order. */
  def linkDomainSql(e: String, srcE: String): String = {
    val h = s"trim($e)"
    s"""CASE WHEN $h = '' OR $h LIKE '#%' THEN NULL
       |  WHEN regexp_matches($h, '$httpPattern')
       |    THEN ${registrableDomainSql(urlHostSql(h))}
       |  WHEN regexp_matches($h, '$schemePattern') THEN NULL
       |  WHEN $h LIKE '//%' THEN ${registrableDomainSql(
            s"lower(regexp_extract($h, '$protoRelHostPattern', 1))")}
       |  ELSE $srcE END""".stripMargin
  }

  /** `<base href>` patterns — the same three quote styles as the anchor
    * patterns, same rationale. */
  val baseDqPattern = "(?i)<base\\s[^>]*href\\s*=\\s*\"([^\"]*)\""
  val baseSqPattern = "(?i)<base\\s[^>]*href\\s*=\\s*'([^']*)'"
  val baseUqPattern = "(?i)<base\\s[^>]*href\\s*=\\s*([^\\s'\">][^\\s>]*)"

  /** The registrable domain a document's `<base href>` redirects
    * RELATIVE links to, or NULL when no base tag changes the domain
    * (VERDICT r16 item 5): a page with
    * `<base href="https://cdn.example.org/">` resolves every relative
    * href against that host, not its own URL — without this, such
    * pages self-edge all their relative links. Quote-style precedence
    * is dq, sq, uq (each `regexp_extract` already takes its pattern's
    * FIRST match; cross-style document order would cost a positional
    * parse — the href extraction's grouping trade). Only an absolute
    * http(s) or protocol-relative base names a host; a relative base
    * (`/path/`), any other scheme, or no base tag → NULL (caller falls
    * back to the page's own domain). Per-row codegen'd regex CASE,
    * mirrored by [[baseHrefDomainSql]]. */
  def baseHrefDomain(markup: Column): Column = {
    val dq = regexp_extract(markup, baseDqPattern, 1)
    val sq = regexp_extract(markup, baseSqPattern, 1)
    val uq = regexp_extract(markup, baseUqPattern, 1)
    val h = trim(coalesce(
      when(dq =!= "", dq), when(sq =!= "", sq), when(uq =!= "", uq),
      lit("")))
    when(h.rlike(httpPattern), registrableDomain(urlHost(h)))
      .when(h.startsWith("//"),
        registrableDomain(lower(regexp_extract(h, protoRelHostPattern, 1))))
      .otherwise(lit(null).cast("string"))
  }

  /** [[baseHrefDomain]] as DuckDB SQL over markup expression `e` —
    * same patterns, same precedence, same branch order. */
  def baseHrefDomainSql(e: String): String = {
    def x(p: String) = s"regexp_extract($e, '${p.replace("'", "''")}', 1)"
    val h = s"""trim(CASE WHEN ${x(baseDqPattern)} <> '' THEN ${x(baseDqPattern)}
               |  WHEN ${x(baseSqPattern)} <> '' THEN ${x(baseSqPattern)}
               |  WHEN ${x(baseUqPattern)} <> '' THEN ${x(baseUqPattern)}
               |  ELSE '' END)""".stripMargin
    s"""CASE WHEN regexp_matches($h, '$httpPattern')
       |    THEN ${registrableDomainSql(urlHostSql(h))}
       |  WHEN $h LIKE '//%' THEN ${registrableDomainSql(
            s"lower(regexp_extract($h, '$protoRelHostPattern', 1))")}
       |  ELSE NULL END""".stripMargin
  }

  /** The domain link graph (VERDICT r15 item 1): from raw markup +
    * each page's own URL, emit (src_domain, dst_domain, n_links)
    * edges — the link-structure half of web-corpus processing that
    * [[htmlText]]'s text extraction discards, and the input crawl
    * prioritization / spam scoring / PageRank-over-sites need.
    * rel=nofollow anchors never become edges ([[nofollowPattern]]), and
    * relative links resolve against the page's `<base href>` domain
    * when one names a host ([[baseHrefDomain]]), else the page's own.
    *
    * Scale shape: href extraction and domain resolution are per-row
    * codegen (the markup bytes never shuffle); the explode multiplies
    * rows by links-per-page (bounded, ~O(100)); the ONE shuffle is the
    * (src,dst) count aggregation, map-side combinable, carrying only
    * short domain-pair strings. Unresolvable targets (mailto:,
    * fragments, invalid hosts) drop before the shuffle. */
  def domainLinkEdges(
      docs: org.apache.spark.sql.DataFrame,
      markupCol: String,
      urlCol: String): org.apache.spark.sql.DataFrame =
    docs
      .select(col(urlCol).as("u"), col(markupCol).as("m"))
      // Substring pre-guards (r18 optimization round, VERDICT r17 item
      // 3): the nofollow strip and the base-href extraction are regex
      // passes over the FULL markup, but the typical page has neither a
      // nofollow rel nor a <base> tag — one lowered copy of the markup
      // (computed once: the alias below is an attribute, so the
      // generator's no-CSE property can't re-evaluate it) feeds two
      // cheap literal-contains guards that skip the regexes entirely on
      // such pages. Equivalence: every nofollowPattern match contains
      // the literal "nofollow" (each alternation branch spells it out)
      // and every base pattern match contains "<base", both matched
      // case-insensitively ((?i) ≡ lowered-substring here: the guard
      // literals are pure ASCII), so guard=false ⇒ regexp_replace is
      // identity / baseHrefDomain is NULL — bit-identical outputs.
      .select(col("u"), col("m"), lower(col("m")).as("lm"))
      // Generate boundary 1 (the q188 lesson, r17 optimization round):
      // evaluate the page-level chains — own-domain, base-href domain,
      // and ONE nofollow strip pass — once per row into attributes.
      // Without the boundary the three quote-style extractions each
      // re-inlined the nofollow regexp_replace (generator expressions
      // get no common-subexpression elimination), and the fused
      // consumer method grew past janino's 64 KB limit into silent
      // interpreted fallback (r17 bench log: `ERROR CodeGenerator` at
      // every link-family warmup; q191 0.7 s → 2.0 s).
      .select(explode(array(struct(
        registrableDomain(urlHost(col("u"))).as("src_domain"),
        when(col("lm").contains("<base"), baseHrefDomain(col("m")))
          .otherwise(lit(null).cast("string")).as("base_domain"),
        when(col("lm").contains("nofollow"),
          regexp_replace(col("m"), lit(nofollowPattern), lit("")))
          .otherwise(col("m")).as("stripped")))).as("x"))
      .select(col("x.src_domain").as("src_domain"),
        col("x.base_domain").as("base_domain"),
        // the three quote-style href extractions over the pre-stripped
        // attribute, minus a per-style re-strip
        explode(concat(
          regexp_extract_all(col("x.stripped"), lit(hrefDqPattern), lit(1)),
          regexp_extract_all(col("x.stripped"), lit(hrefSqPattern), lit(1)),
          regexp_extract_all(col("x.stripped"), lit(hrefUqPattern), lit(1))))
          .as("href"))
      // Generate boundary 2: the per-href domain-resolution CASE becomes
      // an attribute before the aggregate consumes it, keeping each
      // generated doConsume method small enough to compile
      .select(col("src_domain"),
        explode(array(linkDomain(col("href"),
          when(col("base_domain").isNotNull && col("base_domain") =!= "",
            col("base_domain")).otherwise(col("src_domain")))))
          .as("dst_domain"))
      .filter(col("dst_domain").isNotNull && col("dst_domain") =!= "" &&
        col("src_domain") =!= "")
      .groupBy(col("src_domain"), col("dst_domain"))
      .agg(count(lit(1)).as("n_links"))

  /** One step of the [[htmlTextSteps]] / [[unicodeCanonSteps]] chains:
    * either a portable-regex replace (no lookaround, no backreferences,
    * inline flags only — the Java-regex ∩ RE2 subset every pattern in
    * this file lives in) or a literal replace. The chain IS the operator
    * spec: both the Spark Column pipeline and the DuckDB oracle SQL are
    * FOLDED from the same step list ([[chainColumn]]/[[chainSql]]), so
    * the two engines execute the same sequence by construction and
    * hash-exact replay can never drift from the implementation. */
  sealed trait ChainStep
  final case class Rx(pattern: String, replacement: String) extends ChainStep
  final case class Lit(from: String, to: String) extends ChainStep

  def chainColumn(steps: Seq[ChainStep], c: Column): Column =
    steps.foldLeft(c) {
      case (e, Rx(p, r)) => regexp_replace(e, p, r)
      case (e, Lit(f, t)) => replace(e, lit(f), lit(t))
    }

  /** The identical chain as DuckDB SQL over expression text `e`.
    * Replacements render as literals except newline (DuckDB standard
    * strings don't process escapes — `chr(10)` is the portable spelling);
    * DuckDB `regexp_replace` needs the explicit 'g' flag to match
    * Spark's replace-all default. */
  def chainSql(steps: Seq[ChainStep], e: String): String = {
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    def rep(s: String) = if (s == "\n") "chr(10)" else q(s)
    steps.foldLeft(e) {
      case (acc, Rx(p, r)) => s"regexp_replace($acc, ${q(p)}, ${rep(r)}, 'g')"
      case (acc, Lit(f, t)) => s"replace($acc, ${q(f)}, ${rep(t)})"
    }
  }

  /** Raw-web text extraction (VERDICT r14 item 1) — the first operator
    * every real pretraining pipeline runs: a 100 TB web corpus arrives
    * as HTML, and everything downstream in this file (the q44
    * keep-filter, the q54 chunker, the dedup shinglers) assumes clean
    * text. Deterministic codepoint-level rules, expressed as a
    * sequential replace chain so the DuckDB oracle replays it exactly
    * (see [[ChainStep]]); no JDK HTML parser, no engine Unicode tables.
    *
    * The contract, in chain order:
    *  - comments and script/style ELEMENTS die with their content; an
    *    unclosed opener swallows to end of input (HTML5 treats an
    *    unterminated raw-text element the same way);
    *  - every other complete tag is markup: block-level tags become a
    *    newline (block segmentation), the rest a space (so `a<b>c`
    *    never word-joins); a `<` never closed by a `>` is literal text;
    *  - the deterministic entity subset decodes AFTER tag removal
    *    (entity-encoded markup is content, not markup): the five XML
    *    named entities + nbsp, their decimal spellings, and their
    *    HEX spellings (`&#x3C;`-style, case-insensitive in the `x` and
    *    the digits, no leading zeros — VERDICT r15 item 2). The
    *    ampersand-PRODUCING decodes (`&#38;` `&#x26;` `&amp;`) run LAST
    *    and as ONE global regex pass, so their output is never
    *    re-scanned as an entity opener — `&#38;amp;` decodes to
    *    `&amp;`, not `&` (a global replace never re-reads its own
    *    replacement, in Java and RE2 alike). A PINNED ~30-entry named
    *    entity list ([[namedEntities]] — dashes, curly quotes,
    *    copyright marks, accented Latin letters: the spellings real
    *    crawls are full of, VERDICT r16 item 6) decodes the same way:
    *    explicit name→codepoint pairs, versioned in this file, never
    *    an engine character table (the ccSLD/confusable trade). Names
    *    are case-sensitive (`&COPY;` stays literal, matching the
    *    subset's XML-entity rule) and none of the decodes produce an
    *    ampersand, so the single-final-ampersand-pass invariant holds
    *    untouched. Everything else (other named entities, zero-padded
    *    numerics, decimal/hex spellings beyond the XML five) stays
    *    literal: decoding the general class needs the full HTML5
    *    table this repo bans for cross-engine bit-exactness;
    *  - whitespace discipline: horizontal runs collapse to one space,
    *    newline runs (with flanking spaces) to one newline, ends
    *    trimmed — the output is trimmed block-per-line text.
    *
    * Cost shape: ~20 codegen'd linear passes per row (regexp_replace /
    * replace built-ins — no UDF, no CodegenFallback), shuffle-free,
    * embarrassingly parallel: the scrubbing-pass shape that holds at
    * 100 TB. A single-scan custom kernel would halve the constant but
    * could not be replayed by any SQL oracle; the chain is the spec. */
  /** The pinned named-entity subset beyond the XML five: explicit
    * name → codepoint pairs (\u escapes — the byte is the spec, like
    * the confusable table), chosen as the Latin-1/punctuation entities
    * that actually pollute crawl tokens and shingles when left
    * literal. Case-sensitive by the subset's rule; none decodes to an
    * ampersand (the final-amp-pass invariant depends on that — there
    * is a compile-time require below, not just a spec). */
  val namedEntities: Seq[(String, String)] = Seq(
    "mdash" -> "\u2014", "ndash" -> "\u2013",
    "lsquo" -> "\u2018", "rsquo" -> "\u2019",
    "ldquo" -> "\u201c", "rdquo" -> "\u201d",
    "hellip" -> "\u2026",
    "copy" -> "\u00a9", "reg" -> "\u00ae", "trade" -> "\u2122",
    "deg" -> "\u00b0", "middot" -> "\u00b7",
    "laquo" -> "\u00ab", "raquo" -> "\u00bb",
    "sect" -> "\u00a7", "para" -> "\u00b6",
    "plusmn" -> "\u00b1", "times" -> "\u00d7", "divide" -> "\u00f7",
    "frac12" -> "\u00bd", "frac14" -> "\u00bc", "frac34" -> "\u00be",
    "cent" -> "\u00a2", "pound" -> "\u00a3", "euro" -> "\u20ac",
    "yen" -> "\u00a5",
    "eacute" -> "\u00e9", "egrave" -> "\u00e8", "agrave" -> "\u00e0",
    "ccedil" -> "\u00e7", "ntilde" -> "\u00f1",
    "auml" -> "\u00e4", "ouml" -> "\u00f6", "uuml" -> "\u00fc",
    "szlig" -> "\u00df")
  require(namedEntities.map(_._1).distinct.size == namedEntities.size &&
    namedEntities.forall { case (n, v) =>
      n.forall(c => c.isLetterOrDigit) && !v.contains("&") },
    "named entity table: names must be unique word chars, decodes amp-free")

  val htmlTextSteps: Seq[ChainStep] = Seq(
    Rx("(?s)<!--.*?-->", " "),
    Rx("(?s)<!--.*", " "),
    Rx("(?is)<script\\b[^>]*>.*?</script[^>]*>", " "),
    Rx("(?is)<script\\b[^>]*>.*", " "),
    Rx("(?is)<style\\b[^>]*>.*?</style[^>]*>", " "),
    Rx("(?is)<style\\b[^>]*>.*", " "),
    Rx("(?is)</?(p|div|br|hr|li|ul|ol|dl|dt|dd|h[1-6]|tr|td|th|table|thead" +
      "|tbody|blockquote|pre|section|article|aside|header|footer|nav|form" +
      "|figure|figcaption|main|title)\\b[^>]*>", "\n"),
    Rx("(?s)<[^>]*>", " "),
    Lit("&lt;", "<"), Lit("&#60;", "<"), Rx("(?i)&#x3c;", "<"),
    Lit("&gt;", ">"), Lit("&#62;", ">"), Rx("(?i)&#x3e;", ">"),
    Lit("&quot;", "\""), Lit("&#34;", "\""), Rx("(?i)&#x22;", "\""),
    Lit("&apos;", "'"), Lit("&#39;", "'"), Rx("(?i)&#x27;", "'"),
    Lit("&nbsp;", " "), Lit("&#160;", " "), Rx("(?i)&#xa0;", " ")) ++
    // the pinned named-entity subset (amp-free decodes, so order among
    // them is immaterial and the final amp pass stays last)
    namedEntities.map { case (n, v) => Lit(s"&$n;", v) } ++ Seq(
    // ONE global pass for all three ampersand spellings, not separate
    // steps: a global regex never re-scans its own replacement (Java
    // and RE2 alike), so `&#38;amp;` decodes to `&amp;` — sequential
    // replaces would re-read the first step's `&` and double-decode.
    // (?i:) scopes the case fold to the hex spelling; `amp`/`#38` stay
    // exact (named entities are case-sensitive in the subset).
    Rx("&(amp|#38|(?i:#x26));", "&"),
    Rx("[ \\t\\r\\f\\x0B]+", " "),
    Rx(" ?\\n[\\n ]*", "\n"),
    Rx("^[\\n ]+", ""),
    Rx("[\\n ]+$", ""))

  def htmlText(html: Column): Column = chainColumn(htmlTextSteps, html)

  /** [[htmlText]] as DuckDB SQL over expression text `e` — generated
    * from the same step list, for the q186 oracle. */
  def htmlTextSql(e: String): String = chainSql(htmlTextSteps, e)

  /** Unicode canonicalization subset (VERDICT r14 item 6) for the
    * canonical-dedup path: NFC composition for the deterministic
    * Latin-1 combining-mark pairs plus a confusable map for the
    * high-confidence Cyrillic/Greek homoglyphs — the dedup family
    * (script-level near-dups: Cyrillic `а` vs Latin `a`) that
    * case/punct folding alone cannot see. TABLE-DRIVEN, never
    * `java.text.Normalizer`: engine Unicode tables drift across JDKs
    * and don't exist in DuckDB, and an explicit codepoint map in the
    * repo is replayable bit-for-bit in both engines (same [[ChainStep]]
    * discipline as [[htmlText]]).
    *
    * Order matters and is part of the spec: confusables fold FIRST,
    * then combining pairs compose — so a homoglyph base under a
    * combining mark canonicalizes fully (see the step-list comment).
    * The tables are deliberately small and high-precision — confusable
    * folding trades a tiny false-merge risk for catching deliberate
    * homoglyph spam, so only visually-identical-in-every-font pairs are
    * listed. */
  val unicodeCanonSteps: Seq[ChainStep] = {
    // NFC subset: ASCII base + combining acute(0301)/grave(0300)/
    // diaeresis(0308)/tilde(0303)/cedilla(0327) -> the precomposed
    // Latin-1 codepoint. Explicit \\u escapes, NEVER raw source chars:
    // any tool that NFC-normalizes this file would silently compose the
    // decomposed left-hand sides and the whole table would no-op.
    val combining = Seq(
      "a\u0301" -> "\u00e1", "e\u0301" -> "\u00e9",
      "i\u0301" -> "\u00ed", "o\u0301" -> "\u00f3",
      "u\u0301" -> "\u00fa", "a\u0300" -> "\u00e0",
      "e\u0300" -> "\u00e8", "a\u0308" -> "\u00e4",
      "o\u0308" -> "\u00f6", "u\u0308" -> "\u00fc",
      "n\u0303" -> "\u00f1", "a\u0303" -> "\u00e3",
      "o\u0303" -> "\u00f5", "c\u0327" -> "\u00e7",
      "A\u0301" -> "\u00c1", "E\u0301" -> "\u00c9",
      "O\u0301" -> "\u00d3", "U\u0308" -> "\u00dc",
      "N\u0303" -> "\u00d1", "C\u0327" -> "\u00c7")
    // Confusables: Cyrillic (04xx) and Greek (03xx) codepoints whose
    // reference glyph is indistinguishable from the Latin target in
    // standard fonts (Unicode TR39 intentional-confusable class,
    // spelled out here rather than read from any table file).
    val confusable = Seq(
      "\u0430" -> "a", "\u0435" -> "e",
      "\u043e" -> "o", "\u0440" -> "p",
      "\u0441" -> "c", "\u0443" -> "y",
      "\u0445" -> "x", "\u0456" -> "i",
      "\u0455" -> "s", "\u0458" -> "j",
      "\u0410" -> "A", "\u0412" -> "B",
      "\u0415" -> "E", "\u041a" -> "K",
      "\u041c" -> "M", "\u041d" -> "H",
      "\u041e" -> "O", "\u0420" -> "P",
      "\u0421" -> "C", "\u0422" -> "T",
      "\u0425" -> "X", "\u03bf" -> "o",
      "\u039f" -> "O", "\u0391" -> "A",
      "\u0392" -> "B", "\u0395" -> "E",
      "\u0397" -> "H", "\u039a" -> "K",
      "\u039c" -> "M", "\u039d" -> "N",
      "\u03a1" -> "P", "\u03a4" -> "T",
      "\u03a7" -> "X")
    // CONFUSABLES FOLD FIRST, composition second: folding maps foreign
    // bases to ASCII, which is exactly what the combining table's
    // left-hand sides start with — so a homoglyph base under a combining
    // mark (Cyrillic \u0430 + U+0301) folds to `a` + U+0301 and THEN
    // composes to \u00e1, fully canonical in one pass. The reverse order
    // left that compound half-canonicalized (the composition step had
    // already run when the fold produced its ASCII base). No combining
    // left-hand side contains a confusable codepoint, so folding first
    // can only create compose opportunities, never destroy them.
    (confusable ++ combining).map { case (f, t) => Lit(f, t) }
  }

  /** Cross-document duplicated-SPAN removal (the Lee et al.
    * exact-substring dedup granularity, as a removal op): every token
    * position covered by a word `k`-gram that appears in more than
    * `maxDocFreq` distinct documents is dropped, and the survivors
    * reassemble in order. Completes the dedup ladder — document-level
    * ([[Dedup]]), line-level ([[stripBoilerplateLines]]), and now
    * sub-line spans (licence blocks, templated sentences, quoted
    * chunks) that neither of the coarser units can see. ALL
    * occurrences drop, not all-but-one: keeping "the first" needs a
    * global document order that doesn't exist at corpus scale, and
    * determinism is the contract.
    *
    * Scale shape: the doc-frequency aggregate and the membership join
    * both key on md5(gram) computed MAP-SIDE — gram text never
    * shuffles; covered positions explode per duplicated gram (bounded
    * by k × duplicated-gram count) and aggregate into one per-doc
    * integer array (state bounded by document size, the q189
    * discipline); reassembly is a per-row filter over the doc's own
    * token array, so token text never shuffles either. A production corpus would swap the md5 for the
    * 64-bit rolling shingle hashes — same plan, 8-byte keys; md5 keeps
    * the DuckDB oracle bit-exact. A doc with fewer than `k` tokens is
    * its own single gram (the [[contamination]] rule); token-empty and
    * all-duplicate docs keep their row with empty `clean_text`.
    * Output: (idCol, clean_text, n_kept, n_removed). */
  def removeDuplicateSpans(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      maxDocFreq: Long = 1): org.apache.spark.sql.DataFrame = {
    require(k >= 1 && maxDocFreq >= 1,
      s"k=$k and maxDocFreq=$maxDocFreq must be >= 1")
    val base = docs.select(col(idCol), tokens(col(textCol)).as("t"))
    // gram j (0-based) covers token positions j .. min(j+k-1, n-1); a
    // short doc's single gram covers the whole doc
    val grams = base.filter(size(col("t")) > 0)
      .select(col(idCol), size(col("t")).as("n"),
        posexplode(expr(
          s"transform(sequence(1, greatest(size(t) - ${k - 1}, 1)), " +
            s"i -> array_join(slice(t, i, $k), ' '))"))
          .as(Seq("gpos", "gram")))
      .select(col(idCol), col("n"), col("gpos"), md5(col("gram")).as("gh"))
    val dup = grams.groupBy(col("gh"))
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") > maxDocFreq)
      .select(col("gh"))
    // token text never shuffles (r17 optimization round): covered
    // positions aggregate PER DOC into one array (collect_set — state
    // bounded by document size, the q189 discipline), and reassembly is
    // a per-row filter over the doc's own token array. The old shape
    // exploded every token into (id, pos, tok) rows and shuffled that
    // token-text table TWICE (anti-join + doc-keyed collect_list
    // rebuild); this one shuffles gram hashes and integer positions
    // only, and the dup set — already df-filtered, tiny — broadcasts
    // under AQE instead of re-shuffling the gram table.
    val coveredPos = grams.join(dup, Seq("gh"))
      .select(col(idCol),
        explode(sequence(col("gpos"),
          least(col("gpos") + (k - 1), col("n") - 1))).as("pos"))
      .groupBy(col(idCol)).agg(collect_set(col("pos")).as("cp"))
    base.join(coveredPos, Seq(idCol), "left")
      .select(col(idCol), col("t"),
        coalesce(col("cp"), expr("cast(array() as array<int>)")).as("cp"))
      .select(col(idCol),
        coalesce(
          array_join(
            expr("transform(filter(transform(t, (tok, i) -> " +
              "struct(tok as tok, i as i)), x -> NOT array_contains(cp, x.i)), " +
              "x -> x.tok)"),
            " "), lit("")).as("clean_text"),
        when(col("t").isNull, lit(0L))
          .otherwise((size(col("t")) - size(col("cp"))).cast("long"))
          .as("n_kept"),
        (size(col("t")).cast("long") -
          when(col("t").isNull, lit(0L))
            .otherwise((size(col("t")) - size(col("cp"))).cast("long")))
          .as("n_removed"))
  }

  /** [[removeDuplicateSpans]] over a PRE-TOKENIZED corpus (r18
    * optimization round, q199 ladder): input `(idCol, tCol)` token
    * arrays, output `(idCol, toks)` — the surviving tokens in order.
    * Gram construction, dup aggregate, and covered-position aggregate
    * are copied verbatim from the string form (the q199 oracle, which
    * replays the unfused formulation, pins the equivalence); the
    * reassembly keeps the ARRAY so the downstream keep-filter and
    * chunker share one tokenization instead of re-splitting a rebuilt
    * string — `tokens(array_join(toks, " ")) ≡ toks` because `tokens`
    * only ever emits non-empty whitespace-free elements when its input
    * lines obey the [[htmlText]] discipline (see
    * [[stripBoilerplateToks]]). */
  private[graft] def removeDuplicateSpansToks(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      tCol: String,
      k: Int,
      maxDocFreq: Long): org.apache.spark.sql.DataFrame = {
    require(k >= 1 && maxDocFreq >= 1,
      s"k=$k and maxDocFreq=$maxDocFreq must be >= 1")
    val base = docs.select(col(idCol), col(tCol).as("t"))
    val grams = base.filter(size(col("t")) > 0)
      .select(col(idCol), size(col("t")).as("n"),
        posexplode(expr(
          s"transform(sequence(1, greatest(size(t) - ${k - 1}, 1)), " +
            s"i -> array_join(slice(t, i, $k), ' '))"))
          .as(Seq("gpos", "gram")))
      .select(col(idCol), col("n"), col("gpos"), md5(col("gram")).as("gh"))
    val dup = grams.groupBy(col("gh"))
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") > maxDocFreq)
      .select(col("gh"))
    val coveredPos = grams.join(dup, Seq("gh"))
      .select(col(idCol),
        explode(sequence(col("gpos"),
          least(col("gpos") + (k - 1), col("n") - 1))).as("pos"))
      .groupBy(col(idCol)).agg(collect_set(col("pos")).as("cp"))
    base.join(coveredPos, Seq(idCol), "left")
      .select(col(idCol), col("t"),
        coalesce(col("cp"), expr("cast(array() as array<int>)")).as("cp"))
      .select(col(idCol),
        expr("transform(filter(transform(t, (tok, i) -> " +
          "struct(tok as tok, i as i)), x -> NOT array_contains(cp, x.i)), " +
          "x -> x.tok)").as("toks"))
  }

  /** Feature-hashed linear text scorer — the EXECUTION SHAPE of
    * fastText-style model-based quality filtering (the CCNet/LLaMA
    * recipe: a linear classifier over hashed word uni+bigrams decides
    * keep/drop), with the weight table derived deterministically from
    * md5 so both engines replay it bit-for-bit (the repo bans opaque
    * model artifacts for the same reason it bans engine Unicode
    * tables; swapping in trained weights changes ONE function). Each
    * feature hashes into one of [[hashDim]] buckets; each bucket's
    * integer weight is a pinned pseudo-random value in [-1000, 1000];
    * a document's score is the occurrence-weighted sum, keep = score>0.
    *
    * Scale shape: features explode per row (bounded by token count),
    * weights are PURE EXPRESSIONS (no weight-table join — the "table"
    * is arithmetic), and the one shuffle is the doc-keyed sum with
    * map-side combine; at 100 TB this is the canonical inference pass:
    * linear in corpus bytes, no state, no broadcast. Token-empty and
    * null docs surface with score 0, never vanish. */
  val hashDim = 4096
  private def featBucket(f: Column): Column =
    conv(substring(md5(concat(lit("gw1:"), f)), 1, 8), 16, 10)
      .cast("long") % hashDim
  private def bucketWeight(b: Column): Column =
    conv(substring(md5(concat(lit("w:"), b.cast("string"))), 1, 8), 16, 10)
      .cast("long") % 2001 - 1000

  def hashedLinearScore(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val feats = docs
      .select(col(idCol), tokens(lower(col(textCol))).as("t"))
      .select(col(idCol), explode(
        when(size(col("t")) < 2, col("t"))
          .otherwise(concat(col("t"), expr(
            "transform(sequence(1, size(t) - 1), " +
              "i -> concat(element_at(t, i), '_', element_at(t, i + 1)))"))))
        .as("f"))
    val scored = feats
      .select(col(idCol), bucketWeight(featBucket(col("f"))).as("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"), sum(col("w")).as("score"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("score"), lit(0L)).as("score"))
      .withColumn("kept", (col("score") > 0).cast("int"))
  }

  /** URL canonicalization for URL-level dedup keys (the C4/CCNet
    * pre-fetch dedup pass): strip the fragment, strip the tracking
    * parameters crawls are littered with (`utm_*`, `fbclid`, `gclid`,
    * `msclkid`, `mc_eid` — a pinned, versioned list, same determinism
    * trade as [[ccSlds]]), then tidy the separators the removals leave
    * behind (`?&x` → `?x`, trailing `?`/`&`). Same [[ChainStep]]
    * discipline as [[htmlTextSteps]] — every pattern is
    * backreference-free so the chain renders into DuckDB verbatim.
    * DELIBERATELY NOT done here: host lowercasing (the key extractors
    * [[urlHost]]/[[registrableDomain]] already lowercase — the path is
    * case-SENSITIVE and must survive), default-port stripping and
    * trailing-slash folding (both scheme/server-dependent guesses, not
    * deterministic rewrites). KNOWN NAIVETY (ADVICE r16, pinned like
    * the rest of this list): the mid-query `&param=` rule is not
    * anchored to the query string — a literal `&gclid=x` in the PATH
    * ('&' is legal unencoded there) or inside another parameter's
    * unencoded value is also stripped, silently merging such URLs'
    * dedup keys. Anchoring would need a split-at-'?' two-part rewrite
    * outside the single-chain [[ChainStep]] discipline; real tracking
    * params in paths are vanishingly rare, so the trade goes the same
    * way as the rest of the chain. */
  val trackingParams = "(utm_[a-z]+|fbclid|gclid|msclkid|mc_eid)"
  val urlCanonSteps: Seq[ChainStep] = Seq(
    // fragment first: a tracking param inside the fragment is not a
    // query param and must die with the fragment, not be re-tidied
    Rx("(?s)#.*", ""),
    // mid-query removals: &p=v (global, handles any run of them)
    Rx("&" + trackingParams + "=[^&]*", ""),
    // leading-position removal keeps the '?' when params follow...
    Rx("\\?" + trackingParams + "=[^&]*&", "?"),
    // ...and drops it when nothing does
    Rx("\\?" + trackingParams + "=[^&]*$", ""),
    // tidy: the leading rule can fire once per pass, so a ?t1=a&t2=b&q
    // run resolves as &-rule kills t2 first, then the ?-rule kills t1;
    // a final trailing '?' or '&' (empty query left behind) drops
    Rx("[?&]+$", ""))

  def canonicalizeUrl(url: Column): Column = chainColumn(urlCanonSteps, url)

  /** [[canonicalizeUrl]] as DuckDB SQL — the q194 oracle spelling. */
  def canonicalizeUrlSql(e: String): String = chainSql(urlCanonSteps, e)

  /** Byte-pair-encoding merge learning + application (VERDICT r15
    * item 5) — `rounds` unrolled greedy merge rounds over the corpus's
    * lowercased letter runs, upgrading the token-counting family from
    * whitespace/regex proxies to an actual learned-subword
    * tokenization. Each round: count adjacent symbol pairs across every
    * word occurrence (frequency-weighted by construction), pick the
    * most frequent (ties: lexicographically smallest WRAPPED pair
    * string — deterministic binary compare in both engines), merge it
    * everywhere, repeat. The greedy argmax stays IN-ENGINE: each
    * round's 1-row best pair broadcast-joins back (never collected),
    * the same unrolled shape as the q129/q164 greedy rounds.
    *
    * Symbol sequences travel in WRAPPED form — `hello` →
    * `|h| |e| |l| |l| |o|` — so the merge is a plain literal
    * replace: pair "|l| |o|" → "|lo|". The wrapping is what makes
    * that replace boundary-safe (a bare "l o" could match a symbol
    * SUFFIX `l` before a symbol PREFIX `o`, merging across symbol
    * boundaries) and repeat-safe (left-to-right non-overlapping global
    * replace — identical in Java and DuckDB — reproduces BPE's
    * leftmost-first merge on runs: `|a| |a| |a|` → `|aa| |a|`).
    * Pipe can't collide with symbol text: symbols are [a-z] only.
    *
    * Output, one row per document that has at least one letter run
    * (token-empty docs have no tokenization to report): n_words,
    * n_syms0 (= total letters), n_syms (after `rounds` merges), fp (an
    * order-insensitive exact content fingerprint: per-word md5-prefix
    * ints, summed), merges (the learned merge list, wrapped form,
    * ';'-joined — constant across rows, pinning WHICH merges were
    * learned). A corpus with no adjacent pairs left reaches a fixed
    * point: the left join finds no best pair and seqs pass through
    * unchanged (never an empty result).
    *
    * Scale shape: one occurrence→vocabulary aggregate up front (word
    * strings, map-side combinable), then per round ONE map-side-
    * combinable weighted pair-count aggregation over VOCABULARY rows
    * (pairs are ≤9-char strings; document text never shuffles) + a
    * broadcast of a 1-row table + a per-vocab-row literal replace.
    * `localCheckpoint` per round keeps lineage linear in `rounds`
    * instead of doubling (best-pair agg + merge both read the prior
    * round) and now materializes |vocab| rows, not the corpus. At
    * 100 TB each round is one pass over the word-frequency table — the
    * canonical BPE-trainer shape (every real tokenizer trains on word
    * frequencies, not the occurrence stream). */
  def applyBpeMerges(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      rounds: Int): org.apache.spark.sql.DataFrame = {
    require(rounds >= 1 && rounds <= 8,
      s"rounds=$rounds must be in [1,8] (each round is an unrolled job)")
    // Rounds run over the DISTINCT-WORD frequency table (r17
    // optimization round) — the shape every real BPE trainer uses: a
    // pair occurring in word w counts cnt(w) times, so the per-round
    // aggregate is Σ cnt over vocabulary rows instead of one row per
    // word OCCURRENCE, and the per-round merge + localCheckpoint
    // rewrite |vocab| short strings instead of the whole corpus's
    // letter runs (natural-language vocabulary is orders of magnitude
    // smaller than the occurrence stream — THE ratio that makes
    // tokenizer training tractable at 100 TB). Distinct words stay
    // distinct under merging (the symbol concatenation is the word),
    // so the weights never need re-grouping. Pair totals, tie order,
    // learned merges, and the per-document output are bit-identical to
    // the per-occurrence form; the occurrences re-attach by word at the
    // end through one join (vocab is small → AQE broadcasts it).
    val occ = docs.select(col(idCol),
      explode(regexp_extract_all(lower(col(textCol)), lit("[a-z]+"), lit(0)))
        .as("w"))
    var vocab = occ.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("w"),
        expr("substring(concat('|', regexp_replace(w, '(.)', '$1| |')), " +
          "1, 4*length(w)-1)").as("seq"),
        length(col("w")).cast("long").as("n0"),
        col("cnt"))
      .localCheckpoint()
    (1 to rounds).foreach { r =>
      // split ONCE into an attribute before the lambda: a split inside
      // transform's body re-evaluates per element (no CSE across a
      // lambda boundary), turning the pair build O(n²) per word —
      // measured 6.8 s -> the dominant cost of the whole query at sf0.1
      val pairs = vocab
        .select(col("cnt"), split(col("seq"), " ").as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> concat(element_at(syms, i), ' ', " +
            "element_at(syms, i + 1)))")).as("pair"))
      val best = pairs.groupBy(col("pair"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("pair").asc)
        .limit(1)
        .select(col("pair").as(s"p$r"))
      // LEFT join on true, not crossJoin: an empty best (fixed point —
      // no pairs anywhere) must pass seqs through, not empty the corpus.
      // The argmax stays IN-ENGINE (1-row broadcast, never collected).
      vocab = vocab
        .join(broadcast(best), lit(true), "left")
        .withColumn("seq",
          when(col(s"p$r").isNull, col("seq"))
            .otherwise(replace(col("seq"), col(s"p$r"),
              replace(col(s"p$r"), lit("| |"), lit("")))))
      // checkpoint cuts the double-read lineage (next round's pair agg
      // AND merge both read this table)
      if (r < rounds) vocab = vocab.localCheckpoint()
    }
    val mergesCol = concat_ws(";",
      (1 to rounds).map(r => coalesce(col(s"p$r"), lit(""))): _*)
    occ.join(vocab.withColumn("merges", mergesCol), Seq("w"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("n0")).as("n_syms0"),
        sum(size(split(col("seq"), " ")).cast("long")).as("n_syms"),
        sum(conv(substring(md5(col("seq")), 1, 8), 16, 10).cast("long"))
          .as("fp"),
        min(col("merges")).as("merges"))
  }

  /** The BPE symbol-sequence base table shared by [[applyBpeMerges]]
    * and [[BpeStore]]: one row per letter run (`[a-z]+` over the
    * lowercased text) carrying `keepCols`, the WRAPPED symbol sequence
    * `seq` ('|' + "c| |" per char, trailing " |" dropped via the exact
    * length 4·len(w)−1 — ASCII-only by construction), and the initial
    * symbol count `n0`. The wrapped spelling is the artifact format:
    * a stored merge list only applies to sequences built by THIS
    * construction. */
  private[graft] def bpeWords(
      docs: org.apache.spark.sql.DataFrame,
      keepCols: Seq[String],
      textCol: String): org.apache.spark.sql.DataFrame =
    docs
      .select(keepCols.map(col) :+
        explode(regexp_extract_all(lower(col(textCol)), lit("[a-z]+"), lit(0)))
          .as("w"): _*)
      .select(keepCols.map(col) :+
        expr("substring(concat('|', regexp_replace(w, '(.)', '$1| |')), " +
          "1, 4*length(w)-1)").as("seq") :+
        length(col("w")).cast("long").as("n0"): _*)

  def canonicalizeUnicode(text: Column): Column =
    chainColumn(unicodeCanonSteps, text)

  /** [[canonicalizeUnicode]] as DuckDB SQL — for the q187 oracle. */
  def canonicalizeUnicodeSql(e: String): String =
    chainSql(unicodeCanonSteps, e)
}
