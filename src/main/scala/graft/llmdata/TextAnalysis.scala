package graft.llmdata

import graft.{Memo, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operator family over the `documents` table: term
  * statistics, language-ID heuristic, quality/stat profiling, token
  * counting (BPE-ish regex), and bag-of-words fingerprinting. All are
  * single explode + hash-partitioned aggregations — linear in corpus
  * size, no driver-side state.
  */
object TextAnalysis {

  /** Stopword list for the language-ID / quality heuristics. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "to", "and")

  /** BPE-ish tokenizer regex: letter runs, digit runs, single symbols. */
  val TokenPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  private[llmdata] def toks(c: Column) = split(c, " ")

  /** Top-k corpus terms with document frequency. */
  def termTopK(spark: SparkSession, dir: String, k: Int): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n").desc, col("term"))
      .limit(k)

  /** Positional word n-grams of `text` as one row per n-gram, through
    * the native [[graft.plans.WordNgrams]] generator (streams n-grams
    * with no intermediate array materialization); WordNgramsSpec proves
    * it identical to the composable transform-and-explode form.
    * Duplicates preserved — this is occurrence grain, unlike the dedup
    * family's distinct shingle sets. */
  def ngramRows(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), expr(s"word_ngrams(text, $n)"))

  /** Top-k word n-grams by occurrence (collocation mining — the
    * phrase-level view termTopK's unigram counts can't give): one
    * generator fan-out, one hash-partitioned aggregate, deterministic
    * (n DESC, ngram) tie-break. */
  def ngramTopK(spark: SparkSession, dir: String, n: Int, k: Int): DataFrame =
    ngramRows(Tables.documents(spark, dir), n)
      .groupBy("ngram")
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n").desc, col("ngram"))
      .limit(k)

  /** Passage CHUNKING — the doc→passage splitter a RAG index or a
    * fixed-context pretraining packer runs over every document:
    * fixed-size token windows (`chunkTokens`) at a fixed `stride`
    * (overlap = chunkTokens − stride keeps boundary context), with
    * FULL-COVERAGE-NO-REDUNDANT-TAIL semantics: starts are 0, s, 2s, …
    * but only while the PREVIOUS chunk hasn't already reached the end
    * (`start < n − c + s`), so every token lands in ≥1 chunk and no
    * chunk is wholly contained in its predecessor. The final chunk may
    * be short (`n_toks < chunkTokens`), never empty.
    *
    * Scale: one `Generate` (sequence+explode) per doc — no shuffle at
    * all until a consumer aggregates; chunk text is a row-local
    * `slice`+`array_join`, and per-doc output is O(n/stride) rows.
    * Downstream embedding/packing stages key on (doc_id, chunk_idx). */
  def passageChunks(spark: SparkSession, dir: String,
                    chunkTokens: Int = 32, stride: Int = 24): DataFrame = {
    require(stride > 0 && chunkTokens >= stride,
      "need 0 < stride <= chunkTokens (non-positive overlap loses tokens)")
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .withColumn("n", size(col("t")))
      // last valid start = the largest multiple of `stride` at which the
      // previous chunk still ended short of n; sequence() is inclusive
      .withColumn("start", explode(sequence(lit(0),
        greatest(col("n") - chunkTokens + stride - 1, lit(0)), lit(stride))))
      .select(col("doc_id"),
        (col("start") / stride).cast("int").as("chunk_idx"),
        col("start"),
        least(lit(chunkTokens), col("n") - col("start")).as("n_toks"),
        array_join(slice(col("t"), col("start") + 1, lit(chunkTokens)), " ")
          .as("chunk"))
  }

  /** CHUNK-grain exact dedup — the step between [[passageChunks]] and
    * an embedding index: identical passages (boilerplate headers,
    * license blocks, templated paragraphs) collapse to one canonical
    * survivor BEFORE anyone pays to embed them. Survivor = the
    * (doc_id, chunk_idx)-least holder of each chunk hash, with the
    * copy count for the dedup report.
    *
    * Scale: chunks never leave their hash partition — one shuffle on
    * md5(chunk) serves both window functions (copy count + survivor
    * rank share the partitioning); near-unique hashes keep every
    * window group tiny. */
  def chunkDedup(spark: SparkSession, dir: String,
                 chunkTokens: Int = 32, stride: Int = 24): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byHash = Window.partitionBy(col("h"))
    passageChunks(spark, dir, chunkTokens, stride)
      .select(col("doc_id"), col("chunk_idx"),
        md5(col("chunk").cast("binary")).as("h"))
      .withColumn("n_copies", count(lit(1)).over(byHash))
      .withColumn("rn", row_number().over(
        byHash.orderBy(col("doc_id"), col("chunk_idx"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("chunk_idx"), col("n_copies"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** PII-redaction patterns — restricted to syntax Java regex and RE2
    * (DuckDB) interpret IDENTICALLY (no lookaround, no backrefs, and
    * no `\s`: Java's includes vertical tab, RE2's does not — the URL
    * terminator class is spelled out so both engines stop at the same
    * byte), so the oracle runs the very same expressions. */
  val UrlRe = "https?://[^ \\t\\n\\f\\r\\x0B]+"
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII REDACTION (curation scrub, C4/Dolma-style): URLs, emails, and
    * IPv4 literals replaced by typed placeholder tokens, with per-doc
    * match counts for the curation report. Scrub order is fixed and
    * semantic: URL first (an email inside a URL's userinfo is part of
    * the URL), then email, then IP — and the COUNTS follow the same
    * order, each pattern counted on the text the previous stage
    * already scrubbed, so counts always reconcile with the
    * placeholders in the output (an email inside a URL is one `<URL>`,
    * zero `n_emails`). Idempotent — placeholders match none of the
    * patterns (TextAnalysisSpec). The scrub itself
    * ([[redactedText]]) is a row-local codegen'd `regexp_replace`
    * chain — zero shuffles, linear in corpus bytes, exactly what a
    * 100 TB scrub pass must be; this REPORT additionally sorts by
    * doc_id for the verification harness and carries `clean_md5`
    * rather than the scrubbed text so the artifact stays O(docs). */
  def redactPii(spark: SparkSession, dir: String): DataFrame = {
    val afterUrl = regexp_replace(col("text"), UrlRe, "<URL>")
    val afterEmail = regexp_replace(afterUrl, EmailRe, "<EMAIL>")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(UrlRe), lit(0))).as("n_urls"),
        size(regexp_extract_all(afterUrl, lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(afterEmail, lit(Ipv4Re), lit(0))).as("n_ips"),
        md5(redactedText(col("text")).cast("binary")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  // ----------------------------------------------------------- URLs
  /** URL part extraction — ONE Java∩RE2-identical regex (anchored,
    * greedy, no lookaround): group 1 scheme, 2 authority, 3 path,
    * 4 query; the fragment is everything after `#` and simply never
    * captured. Every well-formed `scheme://…` input matches; an
    * unmatched input extracts "" in BOTH engines (probed). */
  val UrlPartsRe = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)[?]?([^#]*)"

  /** URL CANONICALIZATION (VERDICT r9 #7) — the normalization every
    * crawl pipeline runs before URL-keyed dedup and per-domain
    * weighting: lowercase scheme and host, strip the default port
    * (http:80 / https:443), strip the fragment, empty path → "/",
    * sort query parameters byte-lexicographically (param ORDER is
    * almost never semantic; sorting makes `?b=2&a=1` ≡ `?a=1&b=2`).
    * Pure row-local column algebra over [[UrlPartsRe]] — codegen'd,
    * zero shuffle, linear in corpus bytes, and Java∩RE2-safe so the
    * DuckDB oracle runs the very same expressions.
    *
    * Documented limits (spec-pinned, not silent): an authority
    * carrying USERINFO (`user:pw@host`) is passed through verbatim —
    * usernames are case-sensitive and a naive lowercase would corrupt
    * them, so only scheme/path/query/fragment canonicalize for such
    * URLs; IDN hosts are lowercased as-is, NOT punycoded (punycode
    * needs a codec, not a regex — a production deployment adds it
    * next to the public-suffix list); an input that does not match
    * `scheme://…` is returned trimmed but otherwise untouched. */
  def canonicalUrl(url: Column): Column = {
    val u = trim(url)
    val scheme = lower(regexp_extract(u, UrlPartsRe, 1))
    val auth = regexp_extract(u, UrlPartsRe, 2)
    val path = regexp_extract(u, UrlPartsRe, 3)
    val query = regexp_extract(u, UrlPartsRe, 4)
    val host = lower(regexp_extract(auth, "^([^:]*)", 1))
    val port = regexp_extract(auth, ":([0-9]+)$", 1)
    val defPort = (scheme === "http" && port === "80") ||
      (scheme === "https" && port === "443")
    // a bracketed IPv6 authority ('[::1]:8080') passes through
    // verbatim like userinfo (ADVICE r10): the '^([^:]*)' host split
    // truncates at the first colon of the address — better the
    // documented, spec-pinned pass-through than a corrupted canon
    val canonAuth = when(auth.contains("@") || auth.startsWith("["), auth)
      .otherwise(concat(host,
        when(port === "" || defPort, lit(""))
          .otherwise(concat(lit(":"), port))))
    val canonPath = when(path === "", lit("/")).otherwise(path)
    val canonQ = when(query === "", lit(""))
      .otherwise(concat(lit("?"),
        array_join(array_sort(split(query, "&")), "&")))
    when(scheme === "", u)
      .otherwise(concat(scheme, lit("://"), canonAuth, canonPath, canonQ))
  }

  /** Registrable domain (eTLD+1) against the BUNDLED FULL PUBLIC
    * SUFFIX LIST ([[Psl]] — all ~9.5k ICANN + private rules, r13,
    * VERDICT r12 #7), evaluated longest/most-specific-first exactly
    * as the PSL algorithm orders rules:
    *
    *  1. EXCEPTION (`!www.ck`, `!city.kawasaki.jp`): the listed name
    *     is registrable itself, for itself and any subdomain — they
    *     always beat wildcards and normal rules.
    *  2. For suffix length L from the longest rule down to 2: the
    *     host's last L labels are a NORMAL rule, OR its last L−1
    *     labels are a WILDCARD parent (and the host has ≥ L labels —
    *     `*.p` never matches the bare parent) → registrable = last
    *     L+1 labels; a host that IS the bare suffix returns itself
    *     (no registrable name exists).
    *  3. Implicit default rule `*` (unlisted TLD) and every 1-label
    *     rule: registrable = last two labels.
    *
    * The PRIVATE section rides the same mechanism — that is the rule
    * class that bites for crawl weighting (`alice.blogspot.com` stays
    * the FULL subdomain: each blog its own domain; a per-domain cap
    * would otherwise throttle millions of independent sites as one).
    * A host with fewer than two labels returns as-is; a bracketed
    * IPv6 authority returns the bracketed address verbatim (ADVICE
    * r10 — an IP has no registrable domain).
    *
    * Shape: the REFERENCE single-Column form — each lookup a
    * constant-size `isin`/`InSet` probe, every last-k its own regex
    * over the host. Correct and row-local, but the expression tree
    * carries ~8 × 9.5k literal nodes that every Catalyst rule walks,
    * so it pays ~0.5 s of PLANNING per query execution (measured
    * r14) — fine for a long-lived plan or a spec frame, wrong for
    * the re-planned-per-run registry entries. Production queries use
    * [[withRegistrableDomain]], the staged broadcast-lookup twin
    * (spec-pinned equal to this form); the DuckDB oracle generates
    * the SAME CASE chain and IN lists from the same [[Psl.rules]]
    * value as this form evaluates. */
  def registrableDomain(url: Column): Column = {
    val auth = regexp_extract(trim(url), UrlPartsRe, 2)
    val afterUser = regexp_extract(auth, "([^@]*)$", 1)
    val bracket = regexp_extract(afterUser, "^(\\[[^\\]]*\\])", 1)
    val host = lower(regexp_extract(afterUser, "^([^:]*)", 1))
    val R = Psl.rules
    val last: Map[Int, Column] = (1 to R.maxSuffixLen + 1)
      .map(k => k -> regexp_extract(host, Psl.lastKPattern(k), 1)).toMap
    var c: Column = when(afterUser.startsWith("["),
      when(bracket =!= "", bracket).otherwise(afterUser))
      .when(last(2) === "", host)
    for (e <- R.exc.keys.toSeq.sorted.reverse)
      c = c.when(last(e).isin(R.exc(e): _*), last(e))
    for (l <- (2 to R.maxSuffixLen).reverse) {
      val hit = (R.norm.get(l).map(vs => last(l).isin(vs: _*)).toSeq ++
        R.wild.get(l - 1).map(vs =>
          last(l) =!= "" && last(l - 1).isin(vs: _*)).toSeq)
        .reduceOption(_ || _)
      hit.foreach { h =>
        c = c.when(h,
          when(last(l + 1) =!= "", last(l + 1)).otherwise(last(l)))
      }
    }
    c.otherwise(last(2))
  }

  /** A set-membership probe as ONE Catalyst node: `InSet` built
    * directly over a pre-hashed value set, instead of `isin`'s
    * N-literal `In` the analyzer/optimizer re-walk on every rule
    * application. Semantically identical (the optimizer's own
    * In→InSet conversion produces exactly this node); pushdown-
    * equivalent (both translate to `sources.In`). The 9.5k-entry PSL
    * probes are the measured motivation: 8 of them as literal Ins
    * cost ~0.5 s of PLANNING per query run. */
  private def inSet(c: Column, vs: Seq[String]): Column = {
    import org.apache.spark.sql.classic.GraftColumnBridge
    GraftColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.InSet(
        GraftColumnBridge.expression(c),
        vs.map(v => org.apache.spark.unsafe.types.UTF8String
          .fromString(v): Any).toSet))
  }

  /** PRODUCTION registrable-domain stage (r14, VERDICT r13 #2 — the
    * PSL trio's 2–3× bench regression was PLANNING, not execution:
    * [[registrableDomain]]'s single expression re-walks ~80k InSet
    * literal nodes per optimizer rule, and every registry run plans
    * fresh). Same PSL semantics, restructured for the planner:
    *
    *  - the authority/host/label-array/last-k strings are computed
    *    ONCE each as real columns in staged projections (one `split`
    *    instead of `maxSuffixLen + 1` regex passes over the host;
    *    the stages don't re-collapse because each output feeds the
    *    next stage multiple times and CollapseProject declines to
    *    duplicate non-cheap expressions);
    *  - every rule lookup is a single-node [[inSet]] hash probe —
    *    the rules are a prebuilt Set value the optimizer never walks
    *    as expression nodes;
    *  - the final CASE chain evaluates cheap attribute refs.
    *
    * The last-k slicing guards empty labels so the semantics equal
    * [[Psl.lastKPattern]]'s `[^.]+` runs exactly (a window touching
    * an empty label — `a..b`, `b.` — yields `''`, as the regex fails
    * to match there); TextAnalysisSpec pins this builder ≡ the
    * reference Column form on the synthetic corpus AND the edge
    * hosts. Appends `out`; drops every staging column. */
  private[llmdata] def withRegistrableDomain(df: DataFrame, url: Column,
                                             out: String): DataFrame = {
    val R = Psl.rules
    val maxL = R.maxSuffixLen
    val s1 = df
      .withColumn("_psl_au", regexp_extract(
        regexp_extract(trim(url), UrlPartsRe, 2), "([^@]*)$", 1))
    val s2 = s1
      .withColumn("_psl_host",
        lower(regexp_extract(col("_psl_au"), "^([^:]*)", 1)))
      .withColumn("_psl_brkt",
        regexp_extract(col("_psl_au"), "^(\\[[^\\]]*\\])", 1))
    val s3 = s2.withColumn("_psl_labs", split(col("_psl_host"), "\\."))
    val lastCols = (1 to maxL + 1).map { k =>
      val win = slice(col("_psl_labs"), -k, k)
      when(size(col("_psl_labs")) >= k && !array_contains(win, ""),
        array_join(win, ".")).otherwise(lit("")).as(s"_psl_last$k")
    }
    val s4 = s3.select(s3.columns.map(col) ++ lastCols: _*)
    def last(k: Int): Column = col(s"_psl_last$k")
    var c: Column = when(col("_psl_au").startsWith("["),
      when(col("_psl_brkt") =!= "", col("_psl_brkt"))
        .otherwise(col("_psl_au")))
      .when(last(2) === "", col("_psl_host"))
    for (e <- R.exc.keys.toSeq.sorted.reverse)
      c = c.when(inSet(last(e), R.exc(e)), last(e))
    for (l <- (2 to maxL).reverse) {
      val hit = (R.norm.get(l).map(vs => inSet(last(l), vs)).toSeq ++
        R.wild.get(l - 1).map(vs =>
          last(l) =!= "" && inSet(last(l - 1), vs)).toSeq)
        .reduceOption(_ || _)
      hit.foreach { h =>
        c = c.when(h,
          when(last(l + 1) =!= "", last(l + 1)).otherwise(last(l)))
      }
    }
    val temps = s4.columns.filter(_.startsWith("_psl_"))
    s4.withColumn(out, c.otherwise(last(2))).drop(temps: _*)
  }

  /** Deterministic MESSY url column synthesized from corpus fields —
    * the test tables carry no URL column, so the canonicalization
    * entries derive one whose variety exercises every edge class at
    * every scale (mixed-case scheme/host, default and non-default
    * ports, userinfo pass-through, empty paths, unsorted query
    * params, fragments). Mirrored expression-for-expression by the
    * DuckDB oracle. */
  private[llmdata] def syntheticUrl: Column = {
    val id = col("doc_id")
    val scheme = when(id % 3 === 0, lit("HTTP"))
      .when(id % 3 === 1, lit("https")).otherwise(lit("HtTpS"))
    val user = when(id % 11 === 0, lit("User:Pw@")).otherwise(lit(""))
    val src = when(id % 2 === 0, upper(col("source"))).otherwise(col("source"))
    val port = when(id % 4 === 0, lit(":80")).when(id % 4 === 1, lit(":443"))
      .when(id % 4 === 2, lit(":8080")).otherwise(lit(""))
    val path = when(id % 5 === 0, lit(""))
      .otherwise(concat(lit("/docs/"), col("lang"), lit("/"),
        (id % 100).cast("string")))
    val query = when(id % 7 === 0, lit(""))
      .otherwise(concat(lit("?b="), (col("n_chars") % 10).cast("string"),
        lit("&a="), (id % 5).cast("string")))
    val frag = when(id % 2 === 0, concat(lit("#s"), (id % 3).cast("string")))
      .otherwise(lit(""))
    // PSL rule-class planting (id % 12, r13: EVERY rule class of the
    // FULL bundled list appears in the corpus at every scale, so none
    // is oracle-vacuous) —
    //  0: ICANN 2-label (.co.uk → last THREE labels);
    //  1: PRIVATE 2-label (.blogspot.com → the FULL subdomain, each
    //     blog its own domain);
    //  2: WILDCARD 1-label parent (*.ck ⇒ .shop.ck → last three);
    //  3: EXCEPTION 2-label (!www.ck → the exception name itself);
    //  4: PRIVATE 3-label (.s3.amazonaws.com → last FOUR labels);
    //  5: WILDCARD 2-label parent (*.kawasaki.jp → the whole 4-label
    //     host is registrable);
    //  6: EXCEPTION 3-label (!city.kawasaki.jp → the exception name);
    //  7: PRIVATE 4-label (.s3.ap-south-1.amazonaws.com → last FIVE);
    //  8: PRIVATE 5-label (.vfs.cloud9.eu-west-2.amazonaws.com →
    //     last SIX);
    //  9: WILDCARD 3-label parent (*.cns.joyent.com → whole host);
    // 10: WILDCARD 4-label parent (*.compute.amazonaws.com.cn →
    //     whole host);
    // 11: 1-label/default (.com → last two)
    val tld = when(id % 12 === 0, lit(".Co.UK"))
      .when(id % 12 === 1, lit(".BlogSpot.CoM"))
      .when(id % 12 === 2, lit(".Shop.CK"))
      .when(id % 12 === 3, lit(".WwW.Ck"))
      .when(id % 12 === 4, lit(".S3.AmazonAWS.Com"))
      .when(id % 12 === 5, lit(".Kawasaki.JP"))
      .when(id % 12 === 6, lit(".City.Kawasaki.JP"))
      .when(id % 12 === 7, lit(".S3.AP-South-1.AmazonAWS.Com"))
      .when(id % 12 === 8, lit(".VFS.Cloud9.EU-West-2.AmazonAWS.Com"))
      .when(id % 12 === 9, lit(".CNS.Joyent.Com"))
      .when(id % 12 === 10, lit(".Compute.AmazonAWS.Com.CN"))
      .otherwise(lit(".CoM"))
    concat(scheme, lit("://"), user, lit("WWW."), src, tld,
      port, path, query, frag)
  }

  /** Deterministic CRAWL-shaped url column — the sibling of
    * [[syntheticUrl]] for the URL-KEYED DEDUP stage ([[Dedup
    * .urlDedupCorpus]]): real crawls re-fetch the same page under
    * surface-variant URLs (scheme/host case, explicit default ports,
    * fragments), so this generator maps MANY docs onto each canonical
    * URL — the per-source path bucket (`/p/<id % 31>`) makes genuine
    * re-crawl collisions at every scale, and the variants make the
    * CANONICALIZATION load-bearing: two docs share a key only after
    * case-folding, default-port stripping, and fragment removal
    * agree. Mirrored expression-for-expression by the DuckDB oracle. */
  private[llmdata] def syntheticCrawlUrl: Column = {
    val id = col("doc_id")
    val scheme = when(id % 2 === 0,
        when(id % 4 === 0, lit("HTTP")).otherwise(lit("http")))
      .otherwise(when(id % 4 === 1, lit("HTTPS")).otherwise(lit("https")))
    // explicit DEFAULT port on some fetches — stripped by the canon
    val port = when(id % 8 < 2,
        when(id % 2 === 0, lit(":80")).otherwise(lit(":443")))
      .otherwise(lit(""))
    val src = when(id % 3 === 0, upper(col("source"))).otherwise(col("source"))
    val frag = when(id % 5 === 0, lit("#top")).otherwise(lit(""))
    // page bucket = one hex digit of an id-keyed md5 — a LAYOUT-FREE
    // collision key (the test tables stripe sources over doc_id % 20,
    // so any small modulus of the id aliases with the stripe; the
    // hash bucket collides ~1/16 within every source at every scale)
    val page = substring(md5(concat(id.cast("string"), lit(":url"))), 1, 1)
    concat(scheme, lit("://WWW."), src, lit(".CoM"), port,
      lit("/p/"), page, frag)
  }

  /** Per-document canonicalized URL view — (doc_id, url, canon_url,
    * domain), the first stage of every URL-keyed crawl dedup. */
  def canonicalUrls(spark: SparkSession, dir: String): DataFrame =
    withRegistrableDomain(
      Tables.documents(spark, dir)
        .select(col("doc_id"), syntheticUrl.as("url")),
      col("url"), "domain")
      .select(col("doc_id"), col("url"),
        canonicalUrl(col("url")).as("canon_url"), col("domain"))
      .orderBy(col("doc_id"))

  /** Per-DOMAIN curation rollup — docs, distinct canonical URLs, and
    * token mass per registrable domain: the weighting table a crawl
    * pipeline reads before per-domain caps/sampling (a domain whose
    * token share dwarfs its URL diversity is boilerplate-heavy).
    * One hash-partitioned aggregation keyed on the domain. */
  def domainRollup(spark: SparkSession, dir: String): DataFrame =
    withRegistrableDomain(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), syntheticUrl.as("url")),
      col("url"), "domain")
      .select(col("text"), canonicalUrl(col("url")).as("canon_url"),
        col("domain"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("canon_url")).as("n_urls"),
        sum(size(toks(col("text"))).cast("long")).as("tot_tokens"))
      .orderBy(col("domain"))

  /** PER-DOMAIN CAP (r12 — the curation stage the PSL work exists
    * for): crawl-weighting pipelines cap how many documents any one
    * registrable domain contributes before mixture sampling, so one
    * boilerplate-heavy site cannot dominate a source's token budget —
    * and the cap is only fair if the domain key resolves the PSL
    * private section (each `*.blogspot.com` blog is its own domain,
    * not one two-million-doc mega-site; [[registrableDomain]]). Keeps
    * the CAP-FIRST docs per domain in stable doc_id order
    * (deterministic across engines and re-runs — no sampling state)
    * and emits the per-doc verdict (domain, in-domain rank, kept
    * 0/1) so the artifact stays O(docs) and the decision is
    * auditable. ONE hash-partitioned shuffle on the domain key; at
    * corpus scale domains are numerous (millions) so window groups
    * stay small — the skew risk is exactly the mega-domain the
    * private-section rules dissolve. */
  def domainCap(spark: SparkSession, dir: String, cap: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    withRegistrableDomain(
      Tables.documents(spark, dir)
        .select(col("doc_id"), syntheticUrl.as("url")),
      col("url"), "domain")
      .select(col("doc_id"), col("domain"))
      .withColumn("domain_rank", row_number().over(
        Window.partitionBy(col("domain")).orderBy(col("doc_id"))))
      .select(col("doc_id"), col("domain"),
        col("domain_rank").cast("long").as("domain_rank"),
        when(col("domain_rank") <= cap, 1L).otherwise(0L).as("kept"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------ HTML text extraction (r12)
  /** HTML strip regexes — Java∩RE2-identical like every pattern in
    * this file: `(?is)` case-fold + dotall with LAZY bodies for the
    * two container elements whose CONTENT must go with the tags
    * (script/style — a naive tag-strip would leak `var ok = 1 < 2;`
    * into the "text"), then a plain matcher for every remaining tag.
    * No lookaround, no backrefs, so the DuckDB oracle runs the very
    * same expressions. */
  val HtmlScriptRe = "(?is)<script[^>]*>.*?</script>"
  val HtmlStyleRe = "(?is)<style[^>]*>.*?</style>"
  val HtmlTagRe = "<[^>]*>"
  /** Explicit whitespace class (no `\s` — the Java/RE2 divergence
    * documented at [[UrlRe]]). */
  val HtmlWsRe = "[ \\t\\n\\f\\r]+"

  /** MAIN-CONTENT TEXT from an HTML payload (VERDICT r11 #7 — the
    * trafilatura-class extraction a crawl pipeline runs BEFORE every
    * filter this engine has): strip script/style elements WITH their
    * bodies, strip all remaining markup, decode the five ubiquitous
    * character entities, collapse whitespace. Decode order is
    * semantic and fixed: entities decode AFTER the tag strip (a
    * decoded `<` must never become a tag — the classic mXSS-shaped
    * extraction bug) and `&amp;` decodes LAST (`&amp;lt;` is the
    * literal four-glyph text `&lt;`, not a bracket). Entities outside
    * the decoded five (`&copy;`, numeric refs) pass through verbatim
    * — documented, spec-pinned. Pure row-local codegen'd Column
    * algebra: zero shuffle, linear in corpus bytes — the shape a
    * 100 TB extraction pass must have. */
  def htmlExtractedText(html: Column): Column = {
    val noScript = regexp_replace(html, HtmlScriptRe, " ")
    val noStyle = regexp_replace(noScript, HtmlStyleRe, " ")
    val noTags = regexp_replace(noStyle, HtmlTagRe, " ")
    val ent = replace(replace(replace(replace(replace(
      noTags, lit("&lt;"), lit("<")), lit("&gt;"), lit(">")),
      lit("&quot;"), lit("\"")), lit("&#39;"), lit("'")),
      lit("&nbsp;"), lit(" "))
    val dec = replace(ent, lit("&amp;"), lit("&"))
    trim(regexp_replace(dec, HtmlWsRe, " "))
  }

  /** Deterministic HTML-WRAPPED corpus column — the test tables carry
    * no markup, so the extraction entry derives a page per document
    * whose classes exercise every strip rule at every scale: an
    * UPPERCASE style element with a body (id%4 — the `(?i)` fold), a
    * multi-line script whose body contains a bare `<` (id%3 — content
    * removal, not just tags), the five decoded entities (id%5), nav/
    * footer boilerplate with an UNdecoded `&copy;` on every row, and
    * the document text as the main content. Mirrored expression-for-
    * expression by the DuckDB oracle. */
  private[llmdata] def syntheticHtml: Column = {
    val id = col("doc_id")
    val style = when(id % 4 === 0,
      lit("<STYLE media=\"all\">body { color: #000; }</STYLE>"))
      .otherwise(lit(""))
    val script = when(id % 3 === 0,
      lit("<script type=\"text/javascript\">var ok = 1 < 2;\n" +
        "track(\"x\");</script>")).otherwise(lit(""))
    val ents = when(id % 5 === 0,
      lit(" Fish &amp; Chips &lt;fresh&gt;&nbsp;&quot;daily&quot;" +
        " &#39;now&#39;")).otherwise(lit(""))
    concat(lit("<html><head><title>doc "), id.cast("string"),
      lit("</title>"), style,
      lit("</head><body><div class=\"nav\"><a href=\"/\">Home</a> " +
        "<a href=\"/about\">About</a></div>"), script,
      lit("<h1>Doc "), (id % 100).cast("string"), lit("</h1><p>"),
      col("text"), ents,
      lit("</p><footer>&copy; 2026</footer></body></html>"))
  }

  /** HTML EXTRACTION REPORT — per doc: raw markup size, extracted
    * text size, the TEXT-TO-MARKUP RATIO in exact ppm (boilerplate /
    * link-farm pages score low — the standard crawl quality signal
    * extraction emits for free), and the extracted text's md5 so the
    * artifact stays O(docs). `ratio_ppm` is exact INTEGRAL division
    * on both engines — Spark's `DIV`, DuckDB's `//` (ADVICE r12: the
    * old `floor(long / long)` was double division then floor, exact
    * only while the numerator stays under 2^53 — true at any sane doc
    * size, but the integral operator removes the bound entirely; for
    * the non-negative operands here truncation ≡ floor, so the two
    * engines' operators agree). */
  def htmlExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), syntheticHtml.as("html"))
      .select(col("doc_id"), col("html"),
        htmlExtractedText(col("html")).as("xt"))
      .select(col("doc_id"),
        length(col("html")).cast("long").as("html_chars"),
        length(col("xt")).cast("long").as("text_chars"),
        expr("CAST(length(xt) AS BIGINT) * 1000000 DIV length(html)")
          .as("ratio_ppm"),
        md5(col("xt").cast("binary")).as("clean_md5"))
      .orderBy(col("doc_id"))

  /** The scrubbed text column (URL → EMAIL → IP order, see above). */
  def redactedText(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlRe, "<URL>"),
        EmailRe, "<EMAIL>"),
      Ipv4Re, "<IP>")

  /** Per-source corpus profile: doc count, token totals, average doc
    * length in tokens and chars (int-exact sums, one final division). */
  def sourceStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_toks", size(toks(col("text"))))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("tot_tokens"),
        (sum(col("n_toks")).cast("double") / count(lit(1))).as("avg_tokens"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
      .orderBy(col("source"))

  /** Language-ID heuristic: stopword-hit ratio ≥ 5% ⇒ 'en'. Emitted as
    * a (actual lang × predicted) confusion profile. The corpus is
    * synthetic (all languages share one vocabulary) so accuracy is not
    * meaningful — the operator and its exact arithmetic are what the
    * oracle checks. */
  def langIdProfile(spark: SparkSession, dir: String): DataFrame = {
    val t = toks(col("text"))
    val hits = size(filter(t, c => c.isin(Stopwords: _*)))
    val ratio = hits.cast("double") / size(t)
    Tables.documents(spark, dir)
      .withColumn("predicted", when(ratio >= 0.05, "en").otherwise("unk"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))
  }

  /** Per-doc quality score components — length, type-token ratio,
    * stopword ratio, punctuation ratio — the standard corpus-filtering
    * signals, returned per document for downstream threshold filters.
    * All ratios are double divisions of exact integer counts, so the
    * DuckDB oracle hash-matches bit-for-bit. */
  def qualityScores(spark: SparkSession, dir: String): DataFrame = {
    val t = toks(col("text"))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(t).as("n_tokens"),
        size(array_distinct(t)).as("n_types"),
        (size(array_distinct(t)).cast("double") / size(t)).as("type_token_ratio"),
        (size(filter(t, c => c.isin(Stopwords: _*))).cast("double") / size(t))
          .as("stopword_ratio"),
        (size(regexp_extract_all(col("text"), lit("[^a-z0-9 ]"), lit(0)))
          .cast("double") / col("n_chars")).as("punct_ratio"))
      .orderBy(col("doc_id"))
  }

  /** BPE-ish token counting via regex extraction, summed per source. */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_bpe", size(regexp_extract_all(col("text"), lit(TokenPattern), lit(0))))
      .groupBy(col("source"))
      .agg(sum(col("n_bpe")).as("bpe_tokens"), count(lit(1)).as("n_docs"))
      .orderBy(col("source"))

  /** Bag-of-words fingerprint (md5 of the sorted distinct token set):
    * docs sharing a fingerprint are bag-identical — order-insensitive
    * exact dedup. Returns the corpus summary. */
  def fingerprintSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(md5(concat_ws(" ",
        array_sort(array_distinct(toks(col("text"))))).cast("binary")).as("fp"))
      .agg(countDistinct(col("fp")).as("n_fingerprints"), count(lit(1)).as("n_docs"))

  /** Rolling fingerprint window size (tokens per window). */
  val RollWindow = 4

  /** Rolling window fingerprints: a hash per sliding token window over
    * every position — the order-SENSITIVE counterpart to the bag
    * fingerprint, used for containment/overlap detection (shared
    * windows = shared passages). The window combiner is
    * `xxhash64(h_i, …, h_{i+w-1})` over per-token hashes rather than a
    * wraparound Rabin–Karp polynomial: ANSI mode forbids overflowing
    * Long arithmetic, and a keyed multi-arg hash gives the same
    * window-identity semantics. Token hashes aren't DuckDB-reproducible
    * → rows-only gating via TextAnalysisSpec. Row-local end to end. */
  def rollingFingerprints(spark: SparkSession, dir: String): DataFrame = {
    val windowHash = (1 to RollWindow)
      .map(j => s"element_at(th, i + $j)").mkString("xxhash64(", ", ", ")")
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        expr("transform(toks, t -> xxhash64(t))").as("th"))
      .select(col("doc_id"), array_distinct(expr(
        s"""transform(sequence(0, greatest(size(th) - $RollWindow, 0)),
           |  i -> $windowHash)""".stripMargin)).as("windows"))
  }

  /** Overlapping n-token window pattern: one capture per token
    * position, token = a run of non-space — identical to the
    * split-on-space window text wherever the text is single-space
    * separated (every driver corpus at every SF — checked; the md5
    * window identities already leaned on space-separated tokens).
    * r15 (guide §2.4): every n-gram builder that used posexplode +
    * an (n−1)-deep `lead` chain — an Exchange(doc_id) + sort of the
    * full token stream just to re-adjoin tokens adjacent in the
    * source string — now emits its windows ROW-LOCALLY through this
    * pattern (verified window-multiset-identical on the real corpus;
    * isolated window pass 2.33 s → 0.50 s at sf0.1). */
  private[llmdata] def tokenWindowPattern(n: Int): String =
    Seq.fill(n)("[^ ]+").mkString("(?:^| )(?=(", " ", "))")

  private val rollWindowPattern: String = tokenWindowPattern(RollWindow)

  /** (doc_id, window-fingerprint) postings. r15 optimization (guide
    * §2.4 — measured): the r14 form exploded tokens and chained
    * 3 `lead`s over a per-doc window to assemble the 4-token window —
    * an Exchange(doc_id) + sort of every token row to re-adjoin
    * neighbors that were adjacent in the source string all along
    * (itself chosen over the array-`transform` form, whose
    * interpreted per-window lambda measured 4× slower). The
    * overlapping-capture regex emits the identical space-joined
    * window multiset ROW-LOCALLY (verified (doc_id, pos, md5)
    * multiset-identical on the real corpus; 2.33 s → 0.50 s for the
    * window pass at sf0.1) — zero exchanges before the distinct.
    *
    * Fingerprint (r15, VERDICT r14 #4 — the oracle restatement): md5
    * of the space-joined window text — the same window identity the
    * contamination oracle already mirrors — so the overlap pairs are
    * oracle-checked end-to-end instead of rows-only. */
  private def rollingPostings(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(expr(
        s"regexp_extract_all(text, '$rollWindowPattern', 1)")).as("wt"))
      .select(col("doc_id"), md5(col("wt").cast("binary")).as("w"))
      .distinct()

  /** Passage-overlap pairs via rolling windows: docs sharing ≥ minShared
    * window hashes — inverted-index grouping on the window hash, never
    * all-pairs. Window hashes are nearly unique (64-bit over 4-token
    * windows, df≈1–2), so the posting-list pair explode degenerates to
    * tiny groups and the d² blowup cannot occur. */
  def rollingOverlapPairs(spark: SparkSession, dir: String,
                          minShared: Int): DataFrame =
    rollingPostings(spark, dir)
      .groupBy(col("w"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)), y -> struct(x AS id_a, y AS id_b))))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("shared_windows"))
      .filter(col("shared_windows") >= minShared)
      .orderBy(col("shared_windows").desc, col("id_a"), col("id_b"))

  /** Deterministic train/val/test split assignment (~80/10/10) — the
    * reproducible-split primitive every training-data pipeline needs:
    * the split is a pure function of the DOCUMENT ID (md5 of
    * "id:split", first-byte hex ranges), so re-runs, backfills, and
    * other engines (the DuckDB oracle computes the identical md5)
    * assign every document to the same split forever, with no sampling
    * state and no shuffle beyond the final rollup. Salting the hash
    * input with the ":split" tag decorrelates this hash from any other
    * id-hash use (e.g. a second "sample" hash stays independent). */
  /** THE split definition (salted md5 first-byte hex ranges, 80/10/10)
    * — single source of truth for [[splitAssign]] and
    * [[contaminationPairs]]; the oracle SQL mirrors repeat the
    * constants by necessity (they must be literal SQL), so retune the
    * cuts here AND in both mirrors together. */
  def splitColumn(idCol: Column): Column = {
    val h = substring(md5(concat(idCol.cast("string"), lit(":split"))
      .cast("binary")), 1, 2)
    when(h < "cc", "train").when(h < "e6", "val").otherwise("test")
  }

  def splitAssign(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("source"), splitColumn(col("doc_id")).as("split"),
        size(toks(col("text"))).as("n_tokens"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("tot_tokens"))
      .orderBy(col("source"), col("split"))
  }

  /** Deterministic WEIGHTED sampling without replacement
    * (Efraimidis–Vitter A-Res, the one-pass distributed form): each doc
    * draws a pseudo-uniform `u` from a salted md5 of its id and scores
    * `key = ln(u)/w` — the top-k keys are a weighted sample where
    * inclusion probability tilts ∝ weight (here token count: the
    * "sample long docs proportionally to their training mass" knob a
    * mixture builder wants; any positive quality score drops in).
    *
    * Scale shape: embarrassingly parallel scoring + one
    * `TakeOrderedAndProject` top-k — no shuffle beyond the k-row
    * gather, no sampling state, and re-runs/backfills/other engines
    * reproduce the identical sample (pure function of doc id).
    *
    * Determinism: `u` is built positionally from 4 hex chars (identical
    * strpos arithmetic in the DuckDB mirror), keys are quantized to
    * nano-units (`floor(x·1e9 + 0.5)`) with doc_id tie-break, so the
    * selected set is hash-exact across engines. */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    val hvExpr = expr(
      "(instr('0123456789abcdef', substring(h4, 1, 1)) - 1) * 4096 + " +
        "(instr('0123456789abcdef', substring(h4, 2, 1)) - 1) * 256 + " +
        "(instr('0123456789abcdef', substring(h4, 3, 1)) - 1) * 16 + " +
        "(instr('0123456789abcdef', substring(h4, 4, 1)) - 1)")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(toks(col("text"))).as("w"),
        substring(md5(concat(col("doc_id").cast("string"), lit(":wsample"))
          .cast("binary")), 1, 4).as("h4"))
      .filter(col("w") > 0)
      .withColumn("hv", hvExpr)
      .withColumn("keyq",
        floor(log((col("hv") + lit(0.5)) / lit(65536.0)) / col("w")
          * lit(1000000000.0) + lit(0.5)).cast("long"))
      .orderBy(col("keyq").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("source"), col("w").as("n_tokens"),
        col("keyq"), (col("keyq") / lit(1000000000.0)).as("key"))
  }

  /** Default per-source sampling rates for [[stratifiedSample]]: the
    * up/down-weighting a pretraining mixture applies per source. A
    * source absent from the map keeps [[DefaultSampleRate]]. */
  val DefaultSampleRate: Double = 0.10
  val SampleRates: Map[String, Double] =
    Map("src0" -> 0.50, "src1" -> 1.00, "src2" -> 0.25)

  /** Deterministic stratified downsampling: each document is kept iff
    * a salted hash of its id falls below its SOURCE's rate — the same
    * engine-portable primitive as [[splitAssign]] (pure function of
    * doc id ⇒ identical keep set on every re-run, backfill, or engine;
    * the ":sample" salt makes this hash independent of the split
    * hash). Rates are per-stratum, so the mixture is controlled per
    * source while selection within a source stays uniform. Reported as
    * per-source kept/total counts + kept tokens; embarrassingly
    * parallel, one rollup shuffle. Thresholds compare the first FOUR
    * md5 hex chars (65536 buckets), so a rate maps to hex prefix
    * `floor(rate·65536)` — exact for the rates above. */
  def stratifiedSample(spark: SparkSession, dir: String,
                       rates: Map[String, Double] = SampleRates,
                       defaultRate: Double = DefaultSampleRate): DataFrame = {
    val h = substring(md5(concat(col("doc_id").cast("string"), lit(":sample"))
      .cast("binary")), 1, 4)
    // rate 1.0 needs a sentinel ABOVE every 4-hex-char string ("g" >
    // "ffff" lexicographically; "10000" would sort BELOW "1999")
    val hexCut = (r: Double) => if (r >= 1.0) "g" else f"${(r * 65536).toLong}%04x"
    val cut = rates.foldLeft(lit(hexCut(defaultRate))) { case (acc, (src, r)) =>
      when(col("source") === src, hexCut(r)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .select(col("source"), (h < cut).as("sampled"),
        size(toks(col("text"))).as("n_tokens"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("sampled"), col("n_tokens").cast("long")).otherwise(0L))
          .as("tokens_sampled"))
      .orderBy(col("source"))
  }

  /** Deterministic output-shard packing — the step between curation
    * and tokenization: documents are packed, in stable doc_id order
    * WITHIN each source, into shards of ~`shardTokens` tokens
    * (`shard_id = floor(exclusive-prefix-sum(tokens) / shardTokens)`),
    * so every re-run produces byte-identical shards (resumable
    * tokenizer jobs, reproducible data orders). The prefix sum is a
    * window partitioned BY SOURCE — each source packs in parallel;
    * no global single-partition window (the unpartitioned form is the
    * classic scale trap). The REGISTERED form goes one further: it is
    * the TWO-LEVEL blocked prefix sum ([[shardAssignBlocked]]), so
    * even a source that dominates the whole corpus packs in parallel —
    * this single-level window form is kept as the reference
    * implementation the blocked plan is spec-proven equal to.
    * Rolled up per (source, shard): doc count,
    * token total, id range. Exact integer arithmetic end to end. */
  /** SEEDED DETERMINISTIC TRAINING ORDER (r12) — the global shuffle a
    * pretraining loader applies BEFORE the shard/pack handoff: every
    * document's position in the `md5(seed:doc_id)` order plus its
    * round-robin shard, reproducible across runs AND engines (md5 is
    * the cross-engine key; Spark's shuffle-with-a-seed RNGs are not
    * portable). Computed WITHOUT the classic global `row_number`
    * single-partition exchange: global rank = bucket offset + rank
    * WITHIN the key's 2-hex-digit bucket — the offset table is a
    * window over the CONSTANT 256-bucket rollup (dimension-sized by
    * construction, never corpus-scaled) and the per-bucket ranks run
    * 256-way parallel, so the plan scales like a hash aggregate, not
    * like a sort through one task. AQE broadcasts the ≤256-row offset
    * side of the join on its own. */
  def trainOrder(spark: SparkSession, dir: String, seed: Long = 7L,
                 nShards: Int = 16): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(concat(lit(s"$seed:"), col("doc_id").cast("string"))).as("key"))
      .withColumn("bucket", substring(col("key"), 1, 2))
    val wb = W.orderBy(col("bucket"))
      .rowsBetween(W.unboundedPreceding, -1)
    val offsets = keyed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(sum(col("n")).over(wb), lit(0L)))
      .select(col("bucket"), col("off"))
    val ww = W.partitionBy(col("bucket")).orderBy(col("key"), col("doc_id"))
    keyed.join(offsets, "bucket")
      .withColumn("ord",
        col("off") + row_number().over(ww).cast("long") - lit(1L))
      .withColumn("shard", pmod(col("ord"), lit(nShards.toLong)))
      .select(col("doc_id"), col("key"), col("ord"), col("shard"))
      .orderBy(col("ord"))
  }

  def shardAssign(spark: SparkSession, dir: String,
                  shardTokens: Long = 2000L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(toks(col("text"))).cast("long").as("n_tok"))
      .withColumn("shard_id",
        floor(coalesce(sum(col("n_tok")).over(w), lit(0L)) / shardTokens))
      .groupBy(col("source"), col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("shard_id"))
  }

  /** TWO-LEVEL blocked shard packing — [[shardAssign]]'s exact
    * arithmetic with the per-source serialization removed (the
    * documented escape hatch, now the registered plan): documents
    * split into fixed id-range BLOCKS of `blockDocs` per source;
    * stage 1 computes each block's token total (one hash group-by);
    * stage 2 turns those into per-block EXCLUSIVE prefix offsets with
    * a window over the O(#blocks) rollup — a dimension-sized frame
    * (N/blockDocs rows), and even ITS per-source window can be
    * re-blocked the same way if a source ever owns billions of blocks;
    * stage 3 joins the offsets back (hash on (source, block) — the
    * offset table is O(N/blockDocs), so it is NOT broadcast-hinted;
    * AQE may still choose broadcast when it is small) and finishes with a
    * window partitioned by (source, block) — a single dominant source
    * now packs across N/blockDocs parallel tasks instead of one.
    * exclusive-prefix(doc) = block_offset + within-block exclusive
    * prefix (associativity of + over the id-ordered stream) — the
    * same number, so shard boundaries are IDENTICAL, the DuckDB
    * oracle is unchanged, and TextAnalysisSpec proves blocked ≡
    * single-level at two block sizes. */
  def shardAssignBlocked(spark: SparkSession, dir: String,
                         shardTokens: Long = 2000L,
                         blockDocs: Long = 64L): DataFrame =
    blockedPrefix(spark, dir, blockDocs)
      .withColumn("shard_id", floor(col("cb") / shardTokens))
      .groupBy(col("source"), col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("shard_id"))

  /** The blocked two-level machinery itself: (source, doc_id, n_tok,
    * cb) where `cb` is the per-source id-ordered EXCLUSIVE token
    * prefix sum, computed as block_offset + within-block prefix —
    * [[shardAssignBlocked]] and [[packAssignBlocked]] are one
    * expression away from this frame. */
  private def blockedPrefix(spark: SparkSession, dir: String,
                            blockDocs: Long): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(toks(col("text"))).cast("long").as("n_tok"))
      .withColumn("block", floor(col("doc_id") / blockDocs))
    val blockTotals = docs.groupBy(col("source"), col("block"))
      .agg(sum(col("n_tok")).as("block_tok"))
    val wb = W.partitionBy(col("source")).orderBy(col("block"))
      .rowsBetween(W.unboundedPreceding, -1)
    val offsets = blockTotals
      .withColumn("block_off", coalesce(sum(col("block_tok")).over(wb), lit(0L)))
      .select(col("source"), col("block"), col("block_off"))
    val ww = W.partitionBy(col("source"), col("block")).orderBy(col("doc_id"))
      .rowsBetween(W.unboundedPreceding, -1)
    // NO broadcast hint on the offsets side (ADVICE r8): offsets has
    // N/blockDocs rows — an O(N) structure that would pin the driver
    // and every executor exactly when the blocking matters. The join
    // key (source, block) hash-shuffles fine, and AQE still picks a
    // broadcast when the offset table is genuinely small.
    docs.join(offsets, Seq("source", "block"))
      .withColumn("cb",
        col("block_off") + coalesce(sum(col("n_tok")).over(ww), lit(0L)))
      .select(col("source"), col("doc_id"), col("n_tok"), col("cb"))
  }

  /** [[packAssign]]'s window indices off the blocked prefix — the
    * registered form, for the same reason as [[shardAssignBlocked]]:
    * a dominant source packs in parallel, the arithmetic (and thus
    * the oracle) is identical to the single-level reference. */
  def packAssignBlocked(spark: SparkSession, dir: String,
                        packTokens: Long = 256L,
                        blockDocs: Long = 64L): DataFrame =
    blockedPrefix(spark, dir, blockDocs)
      .select(col("source"), col("doc_id"), col("n_tok"),
        floor(col("cb") / packTokens).as("pack_first"),
        floor((col("cb") + col("n_tok") - 1) / packTokens).as("pack_last"))
      .withColumn("spans", col("pack_last") - col("pack_first") + lit(1L))
      .orderBy(col("source"), col("doc_id"))

  /** CONTEXT-WINDOW PACKING assignment — the concat-and-chunk layout a
    * pretraining loader applies to a tokenized stream: documents
    * concatenate in id order within their source and split into fixed
    * `packTokens` windows. Per document: the window its first token
    * lands in (`pack_first`), the window its last token lands in
    * (`pack_last`), and how many windows it SPANS — `spans > 1` is the
    * boundary-fragmentation signal (a doc cut by window boundaries
    * loses cross-boundary attention), the statistic that motivates
    * boundary-aware packing. Pure prefix-sum arithmetic, the same
    * shape as [[shardAssign]]: one cumulative window per source
    * (parallel across sources — the partition-key note there applies),
    * exact integer token counts end to end, so the DuckDB oracle
    * hash-matches. */
  def packAssign(spark: SparkSession, dir: String,
                 packTokens: Long = 256L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(toks(col("text"))).cast("long").as("n_tok"))
      .withColumn("cb", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .select(col("source"), col("doc_id"), col("n_tok"),
        floor(col("cb") / packTokens).as("pack_first"),
        floor((col("cb") + col("n_tok") - 1) / packTokens).as("pack_last"))
      .withColumn("spans", col("pack_last") - col("pack_first") + lit(1L))
      .orderBy(col("source"), col("doc_id"))
  }

  /** End-to-end curation report — the C4/Gopher-style multi-filter
    * pipeline as ONE materialization pass: every document is assigned a
    * verdict by the FIRST failing filter (too_short → repetitive →
    * low_diversity → rare_tokens → kept), rolled up per source with
    * kept/dropped token totals. First-failure attribution is what a
    * real curation job reports (each doc counted once; filter order is
    * the pipeline order), and the per-source rollup is the shard report
    * a 100 TB run emits. One corpus scan per signal family (length/TTR
    * inline, bigram stats, unigram log-probs), three doc-keyed shuffle
    * joins, one rollup — no driver-side state. Thresholds are tuned to
    * be non-vacuous on the synthetic corpus (every verdict arm fires at
    * the oracle scales). All signals are double divisions of exact ints
    * or micro-quantized sums, so the verdict — a pure comparison on
    * them — is engine-portable and the DuckDB oracle hash-matches. */
  def curationReport(spark: SparkSession, dir: String,
                     minTokens: Int = 20,
                     maxDupRatio: Double = 0.08,
                     minTypeTokenRatio: Double = 0.30,
                     minAvgLogprob: Double = -3.43): DataFrame =
    curationVerdicts(spark, dir, minTokens, maxDupRatio, minTypeTokenRatio,
      minAvgLogprob)
      .groupBy(col("source"), col("verdict"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok").cast("long")).as("tokens"))
      .orderBy(col("source"), col("verdict"))

  /** Doc-grain curation SIGNALS — (doc_id, source, n_tok, ttr,
    * dup_ratio, avg_logprob), the threshold-free measurements every
    * curation consumer thresholds its own way. Cached ONCE per
    * (session, corpus): `txt_curation_report`, `txt_dynamic_threshold`
    * and `txt_final_corpus` all sit on this frame, and without the memo
    * each re-ran the multi-signal corpus scan (length/TTR inline,
    * bigram repetition stats, unigram log-probs) per call — the
    * re-derivation VERDICT r7 flagged as dominating `txt_final_corpus`.
    * Thresholds stay OUT of the memo key on purpose: signals are pure
    * corpus functions, so any (minTokens, …) parameterization reuses
    * the same cache. */
  private[llmdata] def curationSignals(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, "curation-signals", dir) {
      val t = toks(col("text"))
      val base = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), size(t).as("n_tok"),
          (size(array_distinct(t)).cast("double") / size(t)).as("ttr"))
      val rep = repetitionRaw(spark, dir, 0.2, 0.18)
        .select(col("doc_id"), col("dup_ratio"))
      val lp = unigramRaw(spark, dir)
        .select(col("doc_id"), col("avg_logprob"))
      base.join(rep, "doc_id").join(lp, "doc_id").cache()
    }

  /** Per-document first-failing-filter verdicts — [[curationReport]]'s
    * doc-grain intermediate, exposed for composition ([[finalCorpus]]).
    * Pure thresholding over the memoized [[curationSignals]] frame. */
  private[llmdata] def curationVerdicts(spark: SparkSession, dir: String,
                                        minTokens: Int = 20,
                                        maxDupRatio: Double = 0.08,
                                        minTypeTokenRatio: Double = 0.30,
                                        minAvgLogprob: Double = -3.43): DataFrame =
    curationSignals(spark, dir)
      .select(col("doc_id"), col("source"), col("n_tok"),
        when(col("n_tok") < minTokens, "too_short")
          .when(col("dup_ratio") > maxDupRatio, "repetitive")
          .when(col("ttr") < minTypeTokenRatio, "low_diversity")
          .when(col("avg_logprob") < minAvgLogprob, "rare_tokens")
          .otherwise("kept").as("verdict"))

  /** END-TO-END corpus materialization — the single report a training
    * run acts on: every document attributed to its final fate across
    * the whole pipeline, dedup first (the pipeline order — a duplicate
    * is dropped before anyone pays to quality-score it, and the same
    * exact-first attribution [[Dedup.dedupCorpus]] uses): exact content
    * copies, then near-dup cluster non-canonicals, then the quality
    * filters, then train/test contamination — `exact_dup / near_dup /
    * filtered_* / contaminated / kept`, rolled up per source with
    * surviving tokens.
    *
    * Scale shape: pure composition — every component is the already
    * registered operator's plan (curation verdicts, md5 min-id
    * equi-join, memoized capped-Jaccard cluster labels, window-postings
    * contamination), stitched by four doc_id-keyed left joins; nothing
    * new shuffles wider than its component did. Arm coverage follows
    * the corpus across the verified scales (dd_delta's documented
    * pattern): near_dup fires at sf0.01 (24 docs), exact_dup at sf0.1
    * (8 content copies), filters/contaminated/kept at both. */
  def finalCorpus(spark: SparkSession, dir: String,
                  threshold: Double = 0.2,
                  maxDocFreq: Option[Long] = None,
                  minShared: Int = 2): DataFrame = {
    val cur = curationVerdicts(spark, dir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val exDrop = docs
      .join(docs.groupBy(col("h")).agg(min(col("doc_id")).as("min_id")), "h")
      .filter(col("doc_id") =!= col("min_id"))
      .select(col("doc_id"), lit(true).as("ex"))
    val ndDrop = Dedup.jaccardLabelsFor(spark, dir, threshold, maxDocFreq)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_id"), lit(true).as("nd"))
    val contam = contaminationRaw(spark, dir, minShared)
      .select(col("train_id").as("doc_id")).distinct()
      .withColumn("ct", lit(true))
    cur
      .join(exDrop, Seq("doc_id"), "left")
      .join(ndDrop, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("status",
        when(col("ex").isNotNull, "exact_dup")
          .when(col("nd").isNotNull, "near_dup")
          .when(col("verdict") =!= "kept", concat(lit("filtered_"), col("verdict")))
          .when(col("ct").isNotNull, "contaminated")
          .otherwise("kept"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("status") === "kept", col("n_tok").cast("long"))
          .otherwise(0L)).as("tokens_kept"))
      .orderBy(col("source"), col("status"))
  }

  /** CMS term-frequency estimates vs exact counts for the corpus's
    * top-k terms: one mergeable d×w Count-Min sketch over ALL term
    * occurrences (map-side partial merges — no term-frequency shuffle),
    * probed for the exact top-k candidates. The output pairs every
    * exact count with its sketch estimate, making the CMS one-sided
    * error bound directly visible (and spec-gated: estimates never
    * undercount, overcount ≤ εN). Rows-only in CORRECTNESS (xxhash
    * sketches aren't DuckDB-reproducible); CmsSpec is the gate. The
    * 1-row sketch cross join is the same allow-listed shape as the
    * global-average queries. */
  def cmsTermCounts(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val sketch = Tables.documents(spark, dir)
      .select(explode(toks(col("text"))).as("term"))
      .agg(call_function("cms_sketch", col("term")).as("sk"))
    termTopK(spark, dir, k)
      .crossJoin(sketch)
      .select(col("term"), col("n").as("n_exact"),
        call_function("cms_estimate", col("sk"), col("term")).as("n_cms"))
      .orderBy(col("n_exact").desc, col("term"))
  }

  /** Train/test CONTAMINATION pairs — the decontamination primitive: a
    * training document sharing ≥ `minShared` distinct [[RollWindow]]-token
    * windows with a test-split document leaks benchmark text into
    * training. Splits come from [[splitAssign]]'s hash (pure function
    * of doc id); windows are md5 of the 4-token string so the DuckDB
    * oracle reproduces them exactly (the xxhash64 form in
    * [[rollingFingerprints]] is the cheaper production variant — same
    * shape, weaker gate). Scale: one lead-chain window pass, then a
    * group per window carrying its (train, test) posting lists —
    * bipartite pairs explode executor-local and partially aggregate
    * map-side, never a train×test join. Window hashes are near-unique
    * on natural text, but a boilerplate window (license headers, shared
    * templates) can post millions of docs — `maxDocFreq` drops windows
    * above the cap BEFORE pair generation, the same explicit skew bound
    * as [[Dedup.jaccardPairs]]'s df-cap (a window that common carries
    * no contamination signal anyway). The cap is mirrored in the DuckDB
    * oracle's HAVING. */
  def contaminationPairs(spark: SparkSession, dir: String,
                         minShared: Int = 2,
                         maxDocFreq: Long = 16L): DataFrame =
    contaminationRaw(spark, dir, minShared, maxDocFreq)
      .orderBy(col("shared_windows").desc, col("train_id"), col("test_id"))

  // the pair set is memoized per (session, corpus, knobs):
  // txt_contamination and the final-corpus accounting share it, and the
  // materialized frame is the bounded (train, test) pair table, not the
  // window index (the [[Dedup.jaccardPairsFor]] pattern)
  private[llmdata] def contaminationRaw(spark: SparkSession, dir: String,
                                        minShared: Int = 2,
                                        maxDocFreq: Long = 16L): DataFrame =
    Memo(spark, "contamination", dir, (minShared, maxDocFreq))(
      contaminationBuild(spark, dir, minShared, maxDocFreq).localCheckpoint())

  private def contaminationBuild(spark: SparkSession, dir: String,
                                 minShared: Int,
                                 maxDocFreq: Long): DataFrame = {
    val wins = Tables.documents(spark, dir)
      // split is a pure function of doc_id: drop val docs BEFORE the
      // window explode so a tenth of the corpus never enters the
      // expensive pass (same plan a 100 TB run wants)
      .withColumn("split", splitColumn(col("doc_id")))
      .filter(col("split") =!= "val")
      // r15: the same row-local overlapping-capture window build as
      // [[rollingPostings]] (verified window-multiset-identical to
      // the lead-chain on the real corpus) — no Exchange(doc_id) +
      // sort of the token stream before the distinct
      .select(col("doc_id"), explode(expr(
        s"regexp_extract_all(text, '$rollWindowPattern', 1)")).as("wt"))
      .select(col("doc_id"), md5(col("wt").cast("binary")).as("w"))
      .distinct()
      // split is re-derived (pure function of doc_id) rather than
      // threaded through the window pass
      .withColumn("split", splitColumn(col("doc_id")))
      // both the df-cap pass and the posting-list pass read the window
      // table; checkpoint it once instead of re-running the
      // explode+window+md5 chain per consumer (at scale this is the
      // materialized window index a decontamination job would persist)
      .localCheckpoint()
    val rare = wins.groupBy(col("w"))
      .agg(count(lit(1)).as("df")).filter(col("df") <= maxDocFreq)
      .select(col("w"))
    wins.join(rare, "w")
      .groupBy(col("w"))
      .agg(
        sort_array(collect_list(when(col("split") === "train", col("doc_id"))))
          .as("trs"),
        sort_array(collect_list(when(col("split") === "test", col("doc_id"))))
          .as("tes"))
      .filter(size(col("trs")) > 0 && size(col("tes")) > 0)
      .select(explode(col("trs")).as("train_id"), col("tes"))
      .select(col("train_id"), explode(col("tes")).as("test_id"))
      .groupBy(col("train_id"), col("test_id"))
      .agg(count(lit(1)).as("shared_windows"))
      .filter(col("shared_windows") >= minShared)
  }

  /** Per-document TF-IDF top terms — the classic document
    * feature-extraction pass (keyword tagging, topic labeling, the
    * sparse half of a doc representation). Scores every (doc, term)
    * with `tf · ln(N/df)` and keeps each document's k highest-weighted
    * terms. Distinct from [[bm25TopK]]: BM25 ranks docs for one query;
    * this extracts descriptive terms for EVERY doc in one pass.
    *
    * Scale shape: tf is one hash-partitioned agg of the exploded token
    * stream; df aggregates the already-(doc,term)-distinct tf table, so
    * no second corpus pass; tf⋈df is a shuffle join on term (a real
    * vocabulary may not broadcast-fit — Zipf-hot terms are what AQE's
    * runtime skew/broadcast handling re-plans); the 1-row doc count
    * broadcasts. The per-doc window ranks at most |distinct terms in
    * doc| rows per partition key — bounded by doc length, never
    * corpus-sized.
    *
    * Determinism: scores quantized to integer micro-units
    * (`floor(x·1e6 + 0.5)`, identical in the DuckDB mirror); ranking
    * ties broken by term ASC in both engines. */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score_micro").desc, col("term"))
    val docs = Tables.documents(spark, dir)
    val tf = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // tf is already distinct per (doc, term): counting its rows per
    // term IS the document frequency — no second pass over the corpus
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"),
        floor(col("tf") * log(col("n_docs") / col("df")) * lit(1000000.0)
          + lit(0.5)).as("score_micro"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"),
        col("score_micro"),
        (col("score_micro") / lit(1000000.0)).as("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** BM25 parameters (the standard Robertson/Lucene defaults) and the
    * default keyword query for the registered entry. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25Query: Seq[String] = Seq("vector", "window", "merge", "spark")

  /** BM25 keyword retrieval — the lexical-search half of every
    * retrieval stack (the dense half is `Similarity.*TopK`). Scores
    * `sum over query terms of idf(t) · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))`
    * with the Lucene-style non-negative idf `ln((N−df+0.5)/(df+0.5)+1)`.
    *
    * Scale shape: the token stream is filtered to the query terms
    * IMMEDIATELY after the explode (a |Q|-literal IN-list — the stream
    * shrinks from corpus-tokens to query-term postings before any
    * shuffle), df/tf both aggregate from that pruned stream with
    * map-side partials, the |Q|-row df table and the 1-row corpus
    * stats broadcast, and the final top-k is a `TakeOrderedAndProject`
    * (no global sort materialization). Nothing driver-side; the only
    * corpus-sized pass is the scan+explode.
    *
    * Determinism: per-(doc,term) scores are quantized to integer
    * MICRO-units via `floor(x·1e6 + 0.5)` (identical formula in the
    * DuckDB oracle — avoids engine-specific round() tie rules) and
    * summed as exact longs, so the per-doc total is independent of
    * float addition order across engines and partitionings. */
  def bm25TopK(spark: SparkSession, dir: String,
               terms: Seq[String] = Bm25Query, k: Int = 15): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val dl = docs.select(col("doc_id"), size(toks(col("text"))).as("dl"))
    val stats = dl.agg(
      count(lit(1)).cast("double").as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))
    val idf = log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    // constants appear as the same decimal literals in the DuckDB
    // mirror: `1.2 + 1` computed in binary rounds to a DIFFERENT double
    // than the literal `2.2`, so k1+1 and 1-b are pre-folded here
    val score = idf * (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    tf.join(broadcast(df), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), floor(score * lit(1000000.0) + lit(0.5)).as("micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("micro")).as("score_micro"))
      .select(col("doc_id"), col("n_terms"), col("score_micro"),
        (col("score_micro") / lit(1000000.0)).as("score"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(k)
  }

  /** [[bm25TopK]] served from a PERSISTED postings artifact
    * ([[LexStore]]) instead of the corpus scan — the restarted-server
    * form, and the registered proof that base + appended shard ≡ a
    * full rebuild on the lexical surface (VERDICT r11 #1): the stored
    * (doc, term, tf, dl) rows are per-document row-local and the
    * corpus scalars exactly additive, so a base+append composition
    * scores BIT-IDENTICALLY to the inline scan — `txt_bm25_topk_append`
    * is gated by the IDENTICAL SQL oracle as `txt_bm25_topk` (the r11
    * `ann_hybrid_rrf_stored` identical-oracle discipline). The stored
    * scalars reach the score as `lit(n)` / `lit(avgdl)` — the same
    * doubles the inline aggregate computes (exact-long count and sum,
    * identical division), so no float drift anywhere. */
  def bm25TopKFromStore(spark: SparkSession, lexDir: String,
                        terms: Seq[String] = Bm25Query,
                        k: Int = 15): DataFrame = {
    val idx = LexStore.load(spark, lexDir, terms)
    val tf = idx.post.filter(col("term").isin(terms: _*))
    val df = tf.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))
    val idf = log((lit(idx.n) - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val score = idf * (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / lit(idx.avgdl)))
    tf.join(broadcast(df), "term")
      .select(col("doc_id"), floor(score * lit(1000000.0) + lit(0.5)).as("micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("micro")).as("score_micro"))
      .select(col("doc_id"), col("n_terms"), col("score_micro"),
        (col("score_micro") / lit(1000000.0)).as("score"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(k)
  }

  /** Per-doc unigram log-probability — the CCNet-style perplexity
    * proxy: score every document by the mean corpus log-likelihood of
    * its tokens, `avg over positions of ln(count(term)/total_tokens)`.
    * Unusually low scores mean rare-token noise (mojibake, code dumps,
    * gibberish); a curation pass thresholds on this per language.
    *
    * Scale shape: term frequencies come from one hash-partitioned agg
    * of the token stream; tokens then join the vocabulary-sized freq
    * table on term — left as a shuffle join because a real vocabulary
    * may not broadcast-fit, and Zipf-hot terms are exactly what AQE's
    * runtime broadcast/skew handling re-plans (at this corpus scale it
    * converts to a broadcast join at runtime). The 1-row total is an
    * allow-listed broadcast cross join.
    *
    * Determinism: per-token log-probs are quantized to micro-units
    * (`floor(x·1e6 + 0.5)`, identical in the DuckDB mirror) and summed
    * as exact longs — the per-doc mean is float-addition-order-free. */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame =
    unigramRaw(spark, dir).orderBy(col("doc_id"))

  /** [[unigramLogprob]] without the presentation sort — the join input
    * form [[curationReport]] consumes. */
  private def unigramRaw(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
    val total = tok.agg(count(lit(1)).cast("double").as("tot"))
    val freq = tok.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    tok.join(freq, "term")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        floor(log(col("cnt") / col("tot")) * lit(1000000.0) + lit(0.5)).as("micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("micro")).as("micro_sum"))
      .select(col("doc_id"), col("n_tokens"),
        (col("micro_sum").cast("double") / lit(1000000.0) / col("n_tokens"))
          .as("avg_logprob"))
  }

  /** Interpolated BIGRAM language-model scoring — one step up the LM
    * ladder from [[unigramLogprob]]: each bigram position is scored
    * `ln(λ·P(w1|w0) + (1−λ)·P(w1))` with MLE estimates from the corpus
    * itself (`P(w1|w0) = c(w0,w1)/c(w0·)`, context counts derived from
    * the bigram table so the final token of each doc never inflates a
    * denominator). The unigram interpolation arm smooths unseen
    * transitions, so the score is finite wherever the token exists —
    * the Jelinek-Mercer scheme every n-gram quality filter uses.
    * Low scores flag incoherent token streams (shuffled text, spam
    * keyword stuffing) that per-token frequency scoring cannot see.
    *
    * Scale shape: one posexplode pass; the bigram stream comes from a
    * per-doc `lead` window (partitioned by doc, bounded by doc length);
    * bigram/context/unigram tables are hash-partitioned aggs joined
    * back on their own keys (vocabulary² may not broadcast — AQE
    * re-plans the Zipf-hot transitions); the 1-row total broadcasts.
    *
    * Determinism: per-position scores micro-quantized (`floor(x·1e6 +
    * 0.5)`, identical in DuckDB), summed as exact longs. */
  def bigramLogprob(spark: SparkSession, dir: String,
                    lambda: Double = 0.75): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("t"))
    val uni = tok.groupBy(col("t")).agg(count(lit(1)).as("cu"))
      .withColumnRenamed("t", "u1")
    // token total = Σcu over the vocabulary-sized aggregate — NOT a
    // third corpus-wide scan+explode (identical value to COUNT(*) of
    // the token stream, which is what the DuckDB mirror computes)
    val total = uni.agg(sum(col("cu")).cast("double").as("tot"))
    // r15: row-local bigram windows ([[tokenWindowPattern]]) — no
    // Exchange(doc_id)+sort of the token stream before the counts
    val bg = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(expr(
        s"regexp_extract_all(text, '${tokenWindowPattern(2)}', 1)")).as("wt"))
      .select(col("doc_id"),
        substring_index(col("wt"), " ", 1).as("w0"),
        substring_index(col("wt"), " ", -1).as("w1"))
    val bgc = bg.groupBy(col("w0"), col("w1")).agg(count(lit(1)).as("cb"))
    val ctx = bgc.groupBy(col("w0")).agg(sum(col("cb")).as("cc"))
    val p = lit(lambda) * (col("cb").cast("double") / col("cc").cast("double")) +
      lit(1.0 - lambda) * (col("cu").cast("double") / col("tot"))
    bg.join(bgc, Seq("w0", "w1"))
      .join(ctx, Seq("w0"))
      .join(uni, col("w1") === col("u1"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), floor(log(p) * lit(1000000.0) + lit(0.5)).as("micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("micro")).as("micro_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("micro_sum").cast("double") / lit(1000000.0) / col("n_bigrams"))
          .as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** Per-source DYNAMIC quality threshold — the adaptive-cutoff
    * curation pass: instead of one global constant (a cut tuned for
    * encyclopedia text guts code or forum text), each source drops its
    * own worst `q` tail by unigram log-prob. Emits the per-source
    * report: doc count, docs below the source's own P(q) cutoff, and
    * the cutoff itself.
    *
    * Scale shape: scores come from the memoized [[curationSignals]]
    * frame (shared with the curation report and final-corpus queries —
    * one signal scan per session per corpus); the exact per-source
    * percentile buffers each source's
    * scores on a reducer (same caveat + `approx_percentile` escape
    * hatch as the ea15 distribution query — t-digest is the 100 TB
    * path, asserted equivalent-within-tolerance in SketchSpec for that
    * family); the source-count-sized cutoff table then BROADCASTS back
    * onto the scored docs, so the corpus never shuffles twice.
    *
    * Determinism: avg_logprob is micro-exact (identical doubles both
    * engines); Spark `percentile` and DuckDB `quantile_cont` share the
    * linear-interpolation definition, rounded to 6 decimals; the flag
    * is a pure comparison of those reproducible doubles. */
  def dynamicThreshold(spark: SparkSession, dir: String,
                       q: Double = 0.10): DataFrame = {
    val scored = curationSignals(spark, dir)
      .select(col("doc_id"), col("source"), col("avg_logprob"))
    val cut = scored.groupBy(col("source"))
      .agg(round(expr(s"percentile(avg_logprob, $q)"), 6).as("cutoff"))
    scored.join(broadcast(cut), "source")
      .groupBy(col("source"), col("cutoff"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("avg_logprob") < col("cutoff"), 1L).otherwise(0L))
          .as("n_flagged"))
      .select(col("source"), col("n_docs"), col("n_flagged"), col("cutoff"))
      .orderBy(col("source"))
  }

  /** Temperature-adjusted source-mixture weights — the data-mixing
    * math every multi-source pretraining run performs (the XLM-R-style
    * `p_i ∝ share_i^α` rule): α < 1 flattens the mixture, up-sampling
    * small sources and down-sampling dominant ones. Emits per source:
    * token count, natural share, α-adjusted sampling weight, and the
    * implied up/down-sampling factor (weight/share) a sampler applies.
    *
    * Scale shape: one corpus pass rolls tokens up per source; both
    * normalizers are 1-row broadcast cross joins (the allow-listed
    * global-aggregate shape); everything after the roll-up is
    * source-count-sized.
    *
    * Determinism: shares are double divisions of exact longs; the
    * α-power outputs are micro-quantized to longs BEFORE normalizing
    * (JVM `Math.pow` and DuckDB's libm pow agree well past micro
    * precision — the oracle gate would catch a flip), so the final
    * weights are divisions of exact longs. */
  def mixtureWeights(spark: SparkSession, dir: String,
                     alpha: Double = 0.3): DataFrame = {
    val perSrc = Tables.documents(spark, dir)
      .select(col("source"), size(toks(col("text"))).as("n_tok"))
      .groupBy(col("source"))
      .agg(sum(col("n_tok").cast("long")).as("tokens"))
    val tot = perSrc.agg(sum(col("tokens")).cast("double").as("tot"))
    val raw = perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("tokens"),
        (col("tokens").cast("double") / col("tot")).as("share"))
      .withColumn("raw_micro",
        floor(pow(col("share"), lit(alpha)) * lit(1000000.0) + lit(0.5)))
    val rawTot = raw.agg(sum(col("raw_micro")).cast("double").as("raw_tot"))
    raw.crossJoin(broadcast(rawTot))
      .select(col("source"), col("tokens"), col("share"),
        (col("raw_micro").cast("double") / col("raw_tot")).as("weight"))
      .withColumn("factor", col("weight") / col("share"))
      .orderBy(col("source"))
  }

  /** BPE merge-table TRAINING — the tokenizer-construction step of a
    * training-data pipeline, as a distributed iterative operator: start
    * from characters, repeatedly merge the corpus-weighted most
    * frequent adjacent symbol pair (ties: lexicographically smallest
    * pair), emit the merge table (the artifact a tokenizer ships).
    *
    * Scale shape — the classic BPE-trainer optimization: the corpus is
    * touched ONCE (word → frequency roll-up); every merge round then
    * runs over the VOCABULARY-sized (word-sequence, freq) table — pair
    * counting is one hash-partitioned agg of that small table, the
    * arg-max is a `TakeOrderedAndProject` returning ONE row to the
    * driver (the merge decision is the algorithm's inherent sequential
    * state — O(numMerges) driver rows total), and the merge itself is a
    * row-local fold. At 100 TB the corpus pass dominates and the rounds
    * are noise; per-round `localCheckpoint` keeps the growing
    * fold-chain plan flat. The per-row `aggregate` lambdas run
    * interpreted — acceptable exactly BECAUSE the table is
    * vocabulary-sized, never corpus-sized.
    *
    * Conventions (mirrored by the spec's reference): pair counts
    * include overlapping occurrences ("aaa" counts (a,a) twice);
    * merging is greedy left-to-right non-overlapping ("aaa" + (a,a) →
    * [aa, a]). Deterministic end to end: exact long counts,
    * lexicographic tie-break, no randomness — rows-only in CORRECTNESS
    * (8 rounds of list-fold state are not reasonable SQL), gated by
    * TextAnalysisSpec's exact driver-reference parity. */
  def bpeMerges(spark: SparkSession, dir: String,
                numMerges: Int = 12): DataFrame = {
    import spark.implicits._
    var seqs = Tables.documents(spark, dir)
      .select(explode(toks(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(split(col("w"), "").as("seq"), col("freq"))
      .localCheckpoint()
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var round = 1
    var done = false
    while (round <= numMerges && !done) {
      val top = seqs
        .select(col("freq"), explode(expr(
          """transform(slice(seq, 1, size(seq) - 1),
            |  (s, i) -> struct(s AS a, element_at(seq, i + 2) AS b))"""
            .stripMargin)).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        val m = a + b
        merges += ((round, a, b, m, cnt))
        seqs = seqs.select(
          aggregate(col("seq"), array().cast("array<string>"),
            (acc, x) =>
              when(size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(m))))
                .otherwise(concat(acc, array(x)))).as("seq"),
          col("freq")).localCheckpoint()
        round += 1
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "merged", "pair_count")
  }

  // trained merge tables are index artifacts: memoized per (session,
  // corpus, rounds) like the IVF centroids / PQ codebooks, so encode
  // queries don't re-pay training per call
  private[llmdata] def bpeMergesFor(spark: SparkSession, dir: String,
                                    numMerges: Int): Array[(String, String, String)] =
    Memo(spark, "bpe-merges", dir, numMerges)(
      bpeMerges(spark, dir, numMerges).orderBy(col("rank")).collect()
        .map(r => (r.getString(1), r.getString(2), r.getString(3))))

  /** One merge pass over a token sequence — the EXACT driver twin of
    * the Column `aggregate` fold [[bpeMerges]] trains with (acc-last
    * check), shared by the encoder and its spec reference. */
  private[llmdata] def applyMerge(seq: List[String], a: String, b: String,
                                  m: String): List[String] = {
    val acc = scala.collection.mutable.ListBuffer.empty[String]
    seq.foreach { x =>
      if (acc.nonEmpty && acc.last == a && x == b) {
        acc.remove(acc.length - 1); acc += m
      } else acc += x
    }
    acc.toList
  }

  /** BPE ENCODE — the other half of the tokenizer loop: apply the
    * [[bpeMerges]]-trained merge table (rank order, the same fold
    * semantics) to every document and report word/char/BPE-token
    * counts — the per-doc token accounting a shard packer or training
    * cost model consumes from a REAL tokenizer rather than the
    * regex proxy ([[tokenCounts]]).
    *
    * Scale shape: training is memoized (index artifact); encoding
    * broadcasts the merge table and maps each partition independently —
    * zero shuffles beyond the presentation sort — with a per-partition
    * word→length cache (Zipf makes the hit rate high, exactly like a
    * production tokenizer's). Rows-only in CORRECTNESS (iterative
    * list-fold state isn't reasonable SQL, as with txt_bpe_merges);
    * TextAnalysisSpec gates exact parity with a driver-side encode over
    * the same trained table plus count monotonicity. */
  def bpeEncode(spark: SparkSession, dir: String,
                numMerges: Int = 12): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(bpeMergesFor(spark, dir, numMerges))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val ms = bc.value
        val cache = scala.collection.mutable.HashMap.empty[String, Int]
        def encodedLen(word: String): Int = cache.getOrElseUpdate(word, {
          var seq: List[String] = word.map(_.toString).toList
          ms.foreach { case (a, b, m) => seq = applyMerge(seq, a, b, m) }
          seq.length
        })
        it.map { case (id, text) =>
          val words = text.split(" ").filter(_.nonEmpty)
          (id, words.length.toLong,
            words.map(_.length.toLong).sum,
            words.map(w => encodedLen(w).toLong).sum)
        }
      }.toDF("doc_id", "n_words", "n_chars", "n_bpe_tokens")
      .orderBy(col("doc_id"))
  }

  /** Per-doc repetition scores — the Gopher/C4-style repetition quality
    * signals: bigram duplication (1 − distinct/total) and the fraction
    * of the doc covered by its single most frequent bigram. High values
    * mean boilerplate/looping text a curation pass drops. Shapes:
    * one posexplode + two hash-partitioned aggs (per-(doc,bigram)
    * counts partially aggregate map-side), linear in corpus size.
    * `flagged` applies the standard cut (dup ratio > 0.2 or top-bigram
    * share > 0.18). Docs under 2 tokens have no bigram and are flagged
    * (degenerate for training). All ratios are double divisions of
    * exact integer counts ⇒ DuckDB-oracle hash-stable. */
  def repetitionScores(spark: SparkSession, dir: String,
                       maxDupRatio: Double = 0.2,
                       maxTopFrac: Double = 0.18): DataFrame =
    repetitionRaw(spark, dir, maxDupRatio, maxTopFrac).orderBy(col("doc_id"))

  /** [[repetitionScores]] without the presentation sort — the join
    * input form [[curationReport]] consumes. */
  private def repetitionRaw(spark: SparkSession, dir: String,
                            maxDupRatio: Double,
                            maxTopFrac: Double): DataFrame = {
    // r15: row-local bigram windows ([[tokenWindowPattern]]) — no
    // Exchange(doc_id)+sort of the token stream before the counts
    val big = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(expr(
        s"regexp_extract_all(text, '${tokenWindowPattern(2)}', 1)")).as("bg"))
    val perBg = big.groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("c"))
    val scored = perBg.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_bigrams"))
          .as("dup_ratio"),
        (col("top_c").cast("double") / col("n_bigrams")).as("top_frac"))
      .withColumn("flagged",
        col("dup_ratio") > maxDupRatio || col("top_frac") > maxTopFrac)
    // docs too short for a bigram: degenerate, flagged
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("dup_ratio"), lit(0.0)).as("dup_ratio"),
        coalesce(col("top_frac"), lit(0.0)).as("top_frac"),
        coalesce(col("flagged"), lit(true)).as("flagged"))
  }

  /** Per-source token-distribution ENTROPY and KL divergence vs the
    * corpus — the information-theoretic slice of a mixture report:
    * entropy `H(s) = -Σ p ln p` says how degenerate a source's
    * vocabulary usage is (keyword-stuffed spam scores near 0), and
    * `KL(source ‖ corpus) = Σ p_s ln(p_s/p_c)` says how far the source
    * drifts from the corpus-wide distribution (the signal that a
    * source's mixture weight needs revisiting, cf. [[mixtureWeights]]).
    *
    * Scale shape: ONE exploded-token pass feeds everything — the
    * (source, term) count table is the base; source totals and the
    * corpus distribution are re-aggregations of that base, never a
    * second corpus scan; the vocabulary-sized corpus table broadcasts
    * back onto the (source, term) grain. Determinism: per-term
    * contributions are pure functions of exact-long count ratios
    * (identical doubles in both engines), micro-quantized then summed
    * as exact longs — the [[unigramLogprob]] recipe. */
  /** DSIR-style IMPORTANCE WEIGHTS (hashed-feature log-likelihood
    * ratios, after Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"): score every document by how
    * much more likely its tokens are under a TARGET distribution than
    * under the whole-corpus distribution — the standard recipe for
    * tilting a pretraining mixture toward a target domain without a
    * trained classifier. Features are hashed unigram buckets
    * (`substr(md5(term), 1, 2)` → 256 buckets, engine-identical in
    * DuckDB — the hashed n-gram device of the paper, which makes the
    * estimator O(buckets), not O(vocabulary)); both distributions are
    * add-one smoothed over the bucket space; each token position
    * contributes `ln p_target(b) − ln p_corpus(b)`, and the per-doc
    * weight is the mean contribution. Feed the weights to
    * [[weightedSample]] (`exp(weight)` or rank-based) to realize the
    * resampling step.
    *
    * Target here = documents labeled `targetLang` — any deterministic
    * doc predicate drops into the same slot (a quality verdict, a
    * source allow-list, a hand-curated id set).
    *
    * Scale shape: one exploded-token pass serves both bucket tables
    * (256-row aggregates, broadcast back over the token stream); the
    * per-doc rollup is a hash-partitioned group-by on doc_id. Nothing
    * touches O(vocabulary²).
    *
    * Determinism: each ln is micro-quantized separately
    * (`floor(ln(p)·1e6 + 0.5)`, the [[unigramLogprob]] precedent) and
    * the difference is EXACT-LONG arithmetic — partition-order-free
    * and bit-reproducible against the DuckDB mirror. */
  def dsirWeights(spark: SparkSession, dir: String,
                  targetLang: String = "en"): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), explode(toks(col("text"))).as("term"))
      .withColumn("b", substring(md5(col("term")), 1, 2))
    val corpus = tok.groupBy(col("b")).agg(count(lit(1)).as("cnt_c"))
    val target = tok.filter(col("lang") === targetLang)
      .groupBy(col("b")).agg(count(lit(1)).as("cnt_t"))
    val totals = tok.agg(
      count(lit(1)).as("tot_c"),
      sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("tot_t"))
    tok
      .join(broadcast(corpus), "b")
      .join(broadcast(target), Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        (floor(log((coalesce(col("cnt_t"), lit(0L)) + 1).cast("double") /
            (col("tot_t") + 256).cast("double")) * lit(1000000.0) + lit(0.5)) -
          floor(log((col("cnt_c") + 1).cast("double") /
            (col("tot_c") + 256).cast("double")) * lit(1000000.0) + lit(0.5)))
          .as("micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("micro")).as("micro_sum"))
      .select(col("doc_id"), col("n_tokens"),
        (col("micro_sum").cast("double") / lit(1000000.0) / col("n_tokens"))
          .as("dsir_weight"))
      .orderBy(col("doc_id"))
  }

  def sourceEntropy(spark: SparkSession, dir: String): DataFrame = {
    val st = Tables.documents(spark, dir)
      .select(col("source"), explode(toks(col("text"))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val srcTot = st.groupBy(col("source")).agg(sum(col("c")).as("ts"))
    val corpus = st.groupBy(col("term")).agg(sum(col("c")).as("cc"))
    val tot = st.agg(sum(col("c")).cast("double").as("tot"))
    val ps = col("c").cast("double") / col("ts")
    val pc = col("cc").cast("double") / col("tot")
    st.join(srcTot, "source")
      .join(broadcast(corpus), "term")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("c"),
        floor(-(ps * log(ps)) * lit(1000000.0) + lit(0.5)).as("h_micro"),
        floor(ps * log(ps / pc) * lit(1000000.0) + lit(0.5)).as("kl_micro"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_terms"),
        (sum(col("h_micro")).cast("double") / lit(1000000.0)).as("entropy"),
        (sum(col("kl_micro")).cast("double") / lit(1000000.0)).as("kl_vs_corpus"))
      .orderBy(col("source"))
  }

  /** Split OOV / COVERAGE report — the eval-prep sanity check: what
    * fraction of each split's 3-gram occurrences never appears in the
    * TRAIN split ("out of vocabulary" at the n-gram level). A val/test
    * slice evaluating mostly-unseen n-grams measures generalization; a
    * near-zero OOV rate warns the eval is memorization-reachable, and a
    * train row is the 0.0 control. Unigram OOV is vacuous on any
    * realistic vocabulary — the 3-gram grain is where coverage
    * separates (and it matches the dedup shingle unit).
    *
    * Scale shape: one lead-chain n-gram pass (the shingle machinery's
    * shape, at occurrence grain); the train vocabulary is a distinct
    * aggregate of the same stream; the membership join is
    * hash-partitioned on the n-gram (AQE runtime-broadcasts a small
    * vocabulary); final rollup is 3 groups. */
  def splitOov(spark: SparkSession, dir: String): DataFrame = {
    // r15: row-local trigram windows ([[tokenWindowPattern]]) — no
    // Exchange(doc_id)+sort of the token stream before the checkpoint
    val tg = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(expr(
        s"regexp_extract_all(text, '${tokenWindowPattern(3)}', 1)")).as("g"))
      .select(splitColumn(col("doc_id")).as("split"), col("g"))
      .localCheckpoint()
    val trainVocab = tg.filter(col("split") === "train")
      .select(col("g")).distinct().withColumn("hit", lit(1))
    tg.join(trainVocab, Seq("g"), "left")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", col("n_oov").cast("double") / col("n_ngrams"))
      .orderBy(col("split"))
  }

  /** Duplicate-SPAN removal accounting — exact substring dedup at the
    * span (not document) grain: any [[RollWindow]]-token window whose
    * text occurs in ≥2 distinct documents marks all of its token
    * positions as duplicated, and the report says how much of each
    * document survives span excision. This is the operation that cuts
    * boilerplate/quotation overlap which document-level dedup
    * ([[Dedup.exactDedup]] / near-dup clustering) cannot touch: two
    * documents 95% different still shed their one shared passage.
    * Windows are md5 of the 4-token string so the DuckDB oracle
    * reproduces them exactly (cf. [[contaminationPairs]]).
    *
    * Scale shape (r16): one row-local window pass, one shuffle of the
    * window stream by w where min(doc)≠max(doc) marks the ≥2-docs
    * windows in place (no distinct aggregate, no semi join back), one
    * shuffle by doc — unlike the pair explodes in
    * [[Dedup.jaccardPairs]] there is NO df blowup to cap: a window in
    * d docs contributes its occurrences linearly (d rows), never d²,
    * so no maxDocFreq knob is needed. Covered-token counts are the
    * interval-union length of the matched [pos, pos+3] spans, folded
    * row-locally over each doc's sorted positions (bounded by
    * document length). */
  def spanRemoval(spark: SparkSession, dir: String): DataFrame = {
    // r15 optimization (guide §2.4 — measured): the 4-token windows
    // used to come from posexplode + a 3-deep `lead` chain over a
    // per-doc window — an Exchange(doc_id) + sort of every TOKEN row
    // just to re-adjoin neighbors that were adjacent in the source
    // string all along. The overlapping-capture regex emits the same
    // space-joined window per token position ROW-LOCALLY (posexplode
    // index = token index, exactly the old `pos`), verified
    // (doc_id, pos, md5) multiset-identical on the real corpus:
    // 2.33 s -> 0.50 s for the window build at sf0.1. Token = a run
    // of non-space (the corpus is single-space separated at every SF
    // — checked; split-on-space and [^ ]+ agree wherever no empty
    // tokens exist, the same assumption the md5 window identity
    // already leaned on).
    val wins = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(expr(
        s"regexp_extract_all(text, '$rollWindowPattern', 1)")))
      .select(col("doc_id"), col("pos"),
        md5(col("col").cast("binary")).as("w"))
    // r16 (guide §2.3/§2.4, VERDICT r15 #5): the ≥2-docs test is
    // min(doc_id) ≠ max(doc_id) over the w-partition — ONE pass over
    // the window stream instead of the old (w, doc)-distinct aggregate
    // + df count + left-semi join back (which shuffled the full window
    // stream by w TWICE and needed the checkpoint for its two
    // consumers; single consumer now, so the extra materialization
    // pass is gone too).
    val wW = org.apache.spark.sql.expressions.Window.partitionBy(col("w"))
    val covered = wins
      .withColumn("dmin", min(col("doc_id")).over(wW))
      .withColumn("dmax", max(col("doc_id")).over(wW))
      .filter(col("dmin") =!= col("dmax"))
      // r16: covered-token count = the UNION LENGTH of the [pos,
      // pos+W−1] intervals, computed row-locally over the doc's sorted
      // matched positions — replaces explode(sequence(...)) (4× the
      // matched rows) + a two-exchange countDistinct. Equal by
      // construction: countDistinct counted exactly the union's
      // members. The fold needs no clamp: positions are distinct and
      // ascending, so the running end acc.e < p + W − 1 always.
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("ps"))
      .select(col("doc_id"), expr(
        s"""aggregate(ps,
           |  named_struct('e', -1, 't', CAST(0 AS BIGINT)),
           |  (acc, p) -> named_struct(
           |    'e', p + ${RollWindow - 1},
           |    't', acc.t + CAST(p + ${RollWindow - 1}
           |                      - greatest(acc.e, p - 1) AS BIGINT)),
           |  acc -> acc.t)""".stripMargin).as("n_dup_tokens"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(toks(col("text"))).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"))
      .withColumn("n_kept_tokens", col("n_tokens") - col("n_dup_tokens"))
      .orderBy(col("doc_id"))
  }
}
