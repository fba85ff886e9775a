"""Text-analysis operators over the documents/pages table (training-data
pipeline additions; graded alongside SURVEY.md §2).

All hot-path expressions are JVM built-ins (regexp/length/split) so they
whole-stage-codegen; nothing here touches Python per row.

Every operator's SQL fragments are built by one dialect-parameterized
function used both by the Spark DataFrame operator and the DuckDB oracle, so
query and oracle cannot drift.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from resolve_overlap_and_gap_spark.derive import SPARK, norm_ws_sql, regex_replace_all_sql

# markers for the n-gram language heuristic (discriminates en vs no in the
# synthetic corpus); counted via length-difference (dialect-portable).
_EN_MARKERS = ["the ", " and ", " of "]
_NO_MARKERS = ["og ", " det ", " ikke "]


def occurrences_sql(col: str, needle: str) -> str:
    """Occurrence count of a literal in a string — identical SQL text in
    Spark and DuckDB: (len(s) - len(replace(s, needle, ''))) / len(needle)."""
    esc = needle.replace("'", "''")
    return (
        f"cast((length({col}) - length(replace({col}, '{esc}', ''))) / {len(needle)} as bigint)"
    )


def token_count_sql(col: str, dialect: str) -> str:
    """Whitespace token count = separator count + 1 on the squeezed string
    (portable: Spark split() and DuckDB string_split differ on empties)."""
    sq = norm_ws_sql(col, dialect)
    return f"cast(length({sq}) - length(replace({sq}, ' ', '')) + 1 as bigint)"


def digit_count_sql(col: str, dialect: str) -> str:
    stripped = regex_replace_all_sql(col, "[0-9]", "", dialect)
    return f"cast(length({col}) - length({stripped}) as bigint)"


def quality_stats_sql(id_col: str, text_col: str, dialect: str) -> list[str]:
    """SELECT-list for per-doc quality features. Mean token length scaled to
    an integer (x1000, floored) so outputs are engine-independent."""
    tc = token_count_sql(text_col, dialect)
    return [
        f"cast({id_col} as bigint) as doc_id",
        f"cast(length({text_col}) as bigint) as n_chars",
        f"{tc} as n_tokens",
        f"{digit_count_sql(text_col, dialect)} as n_digits",
        f"cast(floor(cast(length({text_col}) as double) / cast({tc} as double) * 1000.0) as bigint) as chars_per_token_x1000",
    ]


def quality_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return docs.selectExpr(*quality_stats_sql(id_col, text_col, SPARK))


def lang_id_sql(col: str) -> str:
    """Marker-count language heuristic as a portable CASE expression."""
    en = " + ".join(occurrences_sql(col, m) for m in _EN_MARKERS)
    no = " + ".join(occurrences_sql(col, m) for m in _NO_MARKERS)
    return f"(case when ({en}) >= ({no}) then 'en' else 'no' end)"


def lang_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return docs.selectExpr(
        f"cast({id_col} as bigint) as doc_id",
        f"{lang_id_sql(text_col)} as lang_pred",
    )


def fingerprint_sql(col: str, dialect: str) -> str:
    """Document fingerprint: md5 of whitespace-normalized text — the
    rolling-hash analog, portable across engines."""
    return f"md5({norm_ws_sql(col, dialect)})"


def fingerprints(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return docs.selectExpr(
        f"cast({id_col} as bigint) as doc_id",
        f"{fingerprint_sql(text_col, SPARK)} as fp",
    )


BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"  # letter runs / digit runs / punct


def bpe_token_count_sql(col: str, dialect: str) -> str:
    """BPE-ish tokenizer count (GPT-2-style pre-tokenization simplified to
    ASCII classes): letter runs, digit runs, single punctuation — over
    whitespace-normalized text so \\n/\\t never count as tokens. The regex is
    dialect-portable (no escapes); only the extract-all spelling differs."""
    sq = norm_ws_sql(col, dialect)
    if dialect == SPARK:
        return f"cast(size(regexp_extract_all({sq}, '{BPE_PATTERN}', 0)) as bigint)"
    return f"cast(len(regexp_extract_all({sq}, '{BPE_PATTERN}')) as bigint)"


def bpe_tokens(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return docs.selectExpr(
        f"cast({id_col} as bigint) as doc_id",
        f"{bpe_token_count_sql(text_col, SPARK)} as n_bpe",
    )


def html_to_text_sql(col: str, dialect: str) -> str:
    """Boilerplate HTML -> visible text (the input_hint's `html binary`
    ingestion step): drop script/style blocks, strip tags, decode the
    common entities, squeeze whitespace.  One formula, both dialects —
    oracle-checkable like every other derive step.  (A production crawl
    uses a real DOM parser for edge-case markup; this is the dependency-
    free regex fallback with well-defined semantics.)"""
    x = regex_replace_all_sql(col, r"<script[^>]*>[^<]*</script>", " ", dialect)
    x = regex_replace_all_sql(x, r"<style[^>]*>[^<]*</style>", " ", dialect)
    x = regex_replace_all_sql(x, r"<[^>]*>", " ", dialect)
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&#39;", "''"), ("&nbsp;", " "), ("&amp;", "&")):
        x = f"replace({x}, '{ent}', '{ch}')"
    return norm_ws_sql(x, dialect)


def canonical_url_sql(col: str, dialect: str) -> str:
    """Crawl URL canonicalization (the dedup key for url-level dedup of a
    Common-Crawl-style table — the input_hint's `url` column): lowercase
    scheme+host, strip `www.`, strip default ports (:80 http / :443
    https), drop the fragment, drop `utm_*` tracking params from the
    QUERY (promoting the next param to `?`), strip a trailing slash from
    the PATH except on the root path.  Path and query are split before
    the rewrites, so a literal `&utm_` inside a path segment or `/?`
    inside a query value is never corrupted.  One formula, both dialects;
    built without regex backreferences (Spark `$1` vs DuckDB `\\1` would
    otherwise diverge)."""
    from resolve_overlap_and_gap_spark.derive import regex_extract_sql

    sh = regex_extract_sql(col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", dialect)
    sh = f"replace(lower({sh}), '://www.', '://')"
    sh = (f"(case when {sh} like 'http://%' then "
          f"{regex_replace_all_sql(sh, ':80$', '', dialect)} "
          f"when {sh} like 'https://%' then "
          f"{regex_replace_all_sql(sh, ':443$', '', dialect)} "
          f"else {sh} end)")
    sh_raw = regex_extract_sql(col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", dialect)
    rest = f"substr({col}, length({sh_raw}) + 1)"
    rest = regex_replace_all_sql(rest, r"#.*$", "", dialect)      # fragment
    path = regex_extract_sql(f"({rest})", r"^[^?]*", dialect)
    query = regex_extract_sql(f"({rest})", r"\?.*$", dialect)
    query = regex_replace_all_sql(f"({query})", r"&utm_[^&]*", "", dialect)
    query = regex_replace_all_sql(f"({query})", r"\?utm_[^&]*&", "?", dialect)
    query = regex_replace_all_sql(f"({query})", r"\?utm_[^&]*$", "", dialect)
    path = (f"(case when ({path}) = '/' then '/' else "
            f"{regex_replace_all_sql(f'({path})', '/$', '', dialect)} end)")
    return f"concat({sh}, {path}, {query})"


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"
_PII_PHONE = r"\+[0-9][0-9 ()-]{6,}[0-9]"


def pii_scrub_sql(col: str, dialect: str) -> str:
    """PII redaction (the pre-training scrub step): emails, IPv4 addresses
    and international-format phone numbers replaced by typed tags.  One
    dialect-parameterized formula (Java regex vs RE2 both support the
    classes and \\b used here); order matters — emails first so their
    domains are not half-eaten by the IP rule."""
    x = regex_replace_all_sql(col, _PII_EMAIL, "<EMAIL>", dialect)
    x = regex_replace_all_sql(x, _PII_IPV4, "<IP>", dialect)
    x = regex_replace_all_sql(x, _PII_PHONE, "<PHONE>", dialect)
    return x


def pii_scrub(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """(doc_id, text_scrubbed, n_emails, n_ips, n_phones) — JVM regexps."""
    s = pii_scrub_sql(text_col, SPARK)
    return docs.selectExpr(
        f"cast({id_col} as bigint) as doc_id",
        f"{s} as text_scrubbed",
    ).selectExpr(
        "doc_id", "text_scrubbed",
        f"{occurrences_sql('text_scrubbed', '<EMAIL>')} as n_emails",
        f"{occurrences_sql('text_scrubbed', '<IP>')} as n_ips",
        f"{occurrences_sql('text_scrubbed', '<PHONE>')} as n_phones",
    )


def url_host_sql(canon_col: str, dialect: str) -> str:
    """Host of a canonicalized URL (the blocking key for host-level
    aggregation / per-site quotas in a crawl pipeline)."""
    return f"regexp_extract({canon_col}, '://([^/:?#]+)', 1)"


def canonical_urls(pages: DataFrame, url_col: str = "url",
                   id_col: str = "doc_id") -> DataFrame:
    """(doc_id, url_canon, host) — JVM-side canonicalization, codegen'd."""
    canon = canonical_url_sql(url_col, SPARK)
    return pages.selectExpr(
        f"cast({id_col} as bigint) as doc_id",
        f"{canon} as url_canon",
    ).selectExpr("doc_id", "url_canon",
                 f"{url_host_sql('url_canon', SPARK)} as host")


def blocklist_filter(pages: DataFrame, blocklist: "list[str] | DataFrame",
                     host_col: str = "host",
                     id_col: str = "doc_id") -> DataFrame:
    """Domain-blocklist filtering with registrable-suffix semantics (the
    UT1/adult-blocklist step of a crawl pipeline): a host is blocked when
    ANY of its dot-suffixes appears in the list, so blocking
    'example.com' blocks 'ads.example.com' too.

    Output: (doc_id, host, blocked).

    Scale shape: each host explodes into its <= depth dot-suffixes
    (bounded ~5), left-BROADCAST-joined against the blocklist dim (a
    blocklist is millions of rows at most — always broadcastable), then
    a per-doc max.  No regex scans of the host per blocklist entry (that
    would be O(list) per row); JVM end to end.

    `blocklist` is either a list of suffix strings (tests/small configs)
    or a single-string-column DataFrame (the production path — a real
    blocklist lives in a table, not the driver; the first column is
    taken as the suffix).  Either way it stays a broadcast dim."""
    from pyspark.sql import functions as F

    spark = pages.sparkSession
    if isinstance(blocklist, DataFrame):
        c = blocklist.columns[0]
        dim = (blocklist.select(F.col(c).cast("string").alias("suffix"))
               .dropDuplicates(["suffix"]).withColumn("hit", F.lit(1)))
    else:
        dim = spark.createDataFrame(
            [(b,) for b in sorted(set(blocklist))] or
            [("\x00never-matches-a-host\x00",)],
            "suffix string").withColumn("hit", F.lit(1))
    parts = f"split({host_col}, '\\\\.')"
    sfx = (pages.selectExpr(
        f"cast({id_col} as bigint) as doc_id", f"{host_col} as host",
        f"posexplode(transform(sequence(1, size({parts})), "
        f"i -> array_join(slice({parts}, i, size({parts}) - i + 1), '.'))) "
        "as (p, suffix)"))
    return (sfx.join(F.broadcast(dim), "suffix", "left")
            .groupBy("doc_id", "host")
            .agg(F.max(F.coalesce(F.col("hit"), F.lit(0)))
                 .cast("bigint").alias("blocked")))


def blocklist_filter_duckdb_sql(pages_sql: str, blocklist: list[str],
                                host_col: str = "host",
                                id_col: str = "doc_id") -> str:
    """DuckDB twin of blocklist_filter (same suffix explosion, same
    broadcast-dim semantics).  Entries are quote-escaped; an empty
    blocklist renders a zero-row dim (select … where false) so both
    twins agree that nothing is blocked."""
    if blocklist:
        vals = ", ".join(
            "('{}')".format(b.replace("'", "''"))
            for b in sorted(set(blocklist)))
        dim_sql = f"dim(suffix) as (values {vals})"
    else:
        dim_sql = "dim(suffix) as (select null::varchar where false)"
    return f"""
        with {dim_sql},
        p as (select cast({id_col} as bigint) as doc_id, {host_col} as host,
                     string_split({host_col}, '.') as parts
              from ({pages_sql})),
        sfx as (
          select doc_id, host,
                 array_to_string(parts[i:len(parts)], '.') as suffix
          from p, unnest(generate_series(1, len(parts))) as u(i))
        select doc_id, host,
               cast(max(case when dim.suffix is null then 0 else 1 end)
                    as bigint) as blocked
        from sfx left join dim using (suffix)
        group by doc_id, host
    """


def geoparse_sql(text_expr: str, dialect: str) -> tuple[str, str]:
    """Geo-parse stage over raw page TEXT (the north-star's 'geo-parsed
    points from text'): extract the first 'geo:<lat>,<lon>' mention with
    the engine's native regexp_extract — JVM codegen in Spark, no Python
    anywhere — and cast to double.  Returns (lat_sql, lon_sql).

    Dialect notes: Spark SQL string literals interpret backslashes, so
    the pattern ships with doubled escapes there; DuckDB literals do not.
    No-match yields NULL on both engines (nullif guards DuckDB's
    cast('' as double) error)."""
    if dialect == "spark":
        pat = "'geo:(-?\\\\d+\\\\.\\\\d+),(-?\\\\d+\\\\.\\\\d+)'"
    else:
        pat = r"'geo:(-?\d+\.\d+),(-?\d+\.\d+)'"
    lat = (f"cast(nullif(regexp_extract({text_expr}, {pat}, 1), '') "
           "as double)")
    lon = (f"cast(nullif(regexp_extract({text_expr}, {pat}, 2), '') "
           "as double)")
    return lat, lon


def c4_page_filter(lines: DataFrame, min_words: int = 3,
                   min_lines: int = 5) -> DataFrame:
    """C4 cleanup rules (Raffel et al. 2020 §2.2) over (doc_id, pos,
    line) rows: a line survives iff it ends in terminal punctuation
    (. ! ?), carries >= min_words whitespace words, and does not mention
    'javascript'; a page survives iff no line contains 'lorem ipsum' or
    '{' and >= min_lines lines survive.  Output one row per document:
    (doc_id, n_lines, n_kept, page_kept, reason) where reason is the
    first-failing page rule ('lorem_ipsum' > 'brace' > 'few_sentences' >
    'kept').

    Scale shape: pure JVM codegen (suffix tests, one split size, two
    containment checks) then ONE groupBy on doc_id — the line table
    never shuffles by value, only per-doc counters aggregate (map-side
    combine).  Reference analog: the validity/size gate family (P3/P4,
    resolve_overlap_and_gap.sql min-area filters) re-expressed for crawl
    text."""
    from pyspark.sql import functions as F

    keep = (
        "(line like '%.' or line like '%!' or line like '%?') "
        f"and size(split(line, ' ')) >= {min_words} "
        "and lower(line) not like '%javascript%'"
    )
    return (
        lines
        .withColumn("lk", F.expr(f"case when {keep} then 1 else 0 end"))
        .withColumn("lorem", F.expr(
            "case when lower(line) like '%lorem ipsum%' then 1 else 0 end"))
        .withColumn("brace", F.expr(
            "case when line like '%{%' then 1 else 0 end"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_lines"),
             F.sum("lk").alias("n_kept"),
             F.max("lorem").alias("has_lorem"),
             F.max("brace").alias("has_brace"))
        .selectExpr(
            "cast(doc_id as bigint) as doc_id",
            "cast(n_lines as bigint) as n_lines",
            "cast(n_kept as bigint) as n_kept",
            "cast(case when has_lorem = 0 and has_brace = 0 "
            f"and n_kept >= {min_lines} then 1 else 0 end as bigint) "
            "as page_kept",
            "case when has_lorem = 1 then 'lorem_ipsum' "
            "when has_brace = 1 then 'brace' "
            f"when n_kept < {min_lines} then 'few_sentences' "
            "else 'kept' end as reason"))


def c4_page_filter_duckdb_sql(lines_sql: str, min_words: int = 3,
                              min_lines: int = 5) -> str:
    """DuckDB twin of c4_page_filter over the same (doc_id, pos, line)
    relation."""
    return f"""
        with l as ({lines_sql}),
        f as (select doc_id,
                     case when (line like '%.' or line like '%!'
                                or line like '%?')
                           and len(string_split(line, ' ')) >= {min_words}
                           and lower(line) not like '%javascript%'
                          then 1 else 0 end as lk,
                     case when lower(line) like '%lorem ipsum%'
                          then 1 else 0 end as lorem,
                     case when line like '%{{%' then 1 else 0 end as brace
              from l)
        select cast(doc_id as bigint) as doc_id,
               cast(count(*) as bigint) as n_lines,
               cast(sum(lk) as bigint) as n_kept,
               cast(case when max(lorem) = 0 and max(brace) = 0
                          and sum(lk) >= {min_lines} then 1 else 0 end
                    as bigint) as page_kept,
               case when max(lorem) = 1 then 'lorem_ipsum'
                    when max(brace) = 1 then 'brace'
                    when sum(lk) < {min_lines} then 'few_sentences'
                    else 'kept' end as reason
        from f group by doc_id
    """


def kn_ngram_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Kneser-Ney count tables — the aggregate an n-gram LM build needs
    per vocabulary word: raw unigram count c(w), left continuation count
    N1+(.w) (distinct predecessors — the KN lower-order numerator) and
    right continuation count N1+(w.) (distinct successors — the backoff
    weight input).  Output one row per word:
    (word, c_unigram, n_left, n_right).

    Scale shape: tokens explode once; bigrams derive in-kernel from the
    token array (zip of two slices — no positional self-join); both
    distinct-context counts come from ONE distinct over bigram types
    whose output is consumed ONCE — each distinct pair stacks into two
    tagged rows (w2/left, w1/right) so a single per-word aggregation
    produces both counts (a naive left/right pair of groupBys would
    recompute the heavy distinct twice; plan-audited to one Exchange
    per stage here).  Everything is JVM codegen — split/slice/explode/
    stack/groupBy — and the only wide rows are (w1, w2) pairs, never
    documents.  Word boundaries after shared normalization (lower +
    whitespace collapse), so any engine lands identical counts."""
    from pyspark.sql import functions as F

    from resolve_overlap_and_gap_spark.operators.dedup import normalize_sql

    norm = normalize_sql(text_col, SPARK)
    toks = docs.selectExpr(f"split({norm}, ' ') as t")
    uni = (toks.selectExpr("explode(t) as word")
           .groupBy("word").agg(F.count("*").alias("c_unigram")))
    big = toks.selectExpr(
        "explode(arrays_zip(slice(t, 1, size(t) - 1), "
        "slice(t, 2, size(t) - 1))) as bg"
    ).selectExpr("bg['0'] as w1", "bg['1'] as w2").distinct()
    ctx = (big.selectExpr(
        "stack(2, w2, cast(1 as bigint), w1, cast(0 as bigint)) "
        "as (word, is_left)")
        .groupBy("word")
        .agg(F.sum("is_left").alias("n_left"),
             F.sum(1 - F.col("is_left")).alias("n_right")))
    return (uni.join(ctx, "word", "left")
            .selectExpr("word",
                        "cast(c_unigram as bigint) as c_unigram",
                        "cast(coalesce(n_left, 0) as bigint) as n_left",
                        "cast(coalesce(n_right, 0) as bigint) as n_right"))


def kn_ngram_stats_duckdb_sql(text_col: str = "text",
                              table: str = "documents") -> str:
    """DuckDB twin of kn_ngram_stats."""
    from resolve_overlap_and_gap_spark.operators.dedup import normalize_sql

    norm = normalize_sql(text_col, "duckdb")
    return f"""
        with t as (select string_split({norm}, ' ') as t from {table}),
        uni as (select u.word, count(*) as c_unigram
                from t, unnest(t.t) as u(word) group by u.word),
        big as (select distinct t.t[i] as w1, t.t[i+1] as w2
                from t, unnest(generate_series(1, len(t.t) - 1)) as g(i)),
        l as (select w2 as word, count(*) as n_left from big group by w2),
        r as (select w1 as word, count(*) as n_right from big group by w1)
        select uni.word, cast(uni.c_unigram as bigint) as c_unigram,
               cast(coalesce(l.n_left, 0) as bigint) as n_left,
               cast(coalesce(r.n_right, 0) as bigint) as n_right
        from uni left join l using (word) left join r using (word)
    """


def _bpe_merge_word(syms: list, left: str, right: str) -> list:
    """Greedy left-to-right application of one merge (standard BPE)."""
    res = []
    i = 0
    n = len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            res.append(left + right)
            i += 2
        else:
            res.append(syms[i])
            i += 1
    return res


def bpe_train(docs: DataFrame, n_merges: int = 10, text_col: str = "text",
              driver_vocab_cap: int = 200_000) -> DataFrame:
    """BPE tokenizer TRAINING (Sennrich et al. 2016) — the merge-table
    build of an LLM tokenizer, in the shape industrial Spark trainers
    use: the corpus collapses ONCE to a (word-type, frequency) table —
    the only relation the algorithm ever needs, vocabulary-sized by
    Heaps' law — and the merge loop runs over that table.

    Two paths, identical output:

    * word-type count <= driver_vocab_cap (the common case even for
      very large corpora): the type table collects to the driver and
      the loop runs locally — total cluster work is exactly one corpus
      scan + one aggregation, and the n_merges iterations cost no
      scheduler round-trips at all.
    * larger vocabularies: the loop stays distributed — each round is
      one pair-count shuffle, ONE argmax row to the driver, and an
      Arrow-batched greedy merge rewrite of the word table
      (localCheckpoint-truncated so the plan never grows).

    Ties break deterministically by (count desc, left asc, right asc) —
    engine-order-independent, unlike the insertion-order tie rule of the
    original reference implementation (documented divergence).

    Output: (rank, left, right, pair_count), one row per learned
    merge."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from resolve_overlap_and_gap_spark.operators.dedup import normalize_sql

    spark = docs.sparkSession
    norm = normalize_sql(text_col, SPARK)
    # checkpoint so the path probe and whichever path runs share ONE
    # corpus scan (the probe's collected head otherwise forces a rescan
    # on the distributed path)
    wfreq = (docs.selectExpr(f"explode(split({norm}, ' ')) as w")
             .where("w <> ''")
             .groupBy("w").agg(F.count("*").alias("freq"))
             .localCheckpoint())
    merges: list[tuple] = []

    head = wfreq.limit(driver_vocab_cap + 1).collect()
    if len(head) <= driver_vocab_cap:
        vocab = {tuple(r["w"]): int(r["freq"]) for r in head}
        for rank in range(n_merges):
            counts: dict = {}
            for syms, f in vocab.items():
                for pair in zip(syms, syms[1:]):
                    counts[pair] = counts.get(pair, 0) + f
            if not counts:
                break
            (left, right), cnt = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
            merges.append((rank, left, right, cnt))
            new: dict = {}
            for syms, f in vocab.items():
                t = tuple(_bpe_merge_word(list(syms), left, right))
                new[t] = new.get(t, 0) + f
            vocab = new
        return spark.createDataFrame(
            merges, "rank long, left string, right string, pair_count long")

    # symbol split in Python (Arrow-batched), NOT Spark SQL split():
    # Java regex split positions fall between UTF-16 code units, so
    # split(w, '(?!^)') halves surrogate pairs (emoji -> two lone
    # surrogates) and would diverge from the driver path's code-point
    # symbols; Python list(w) iterates code points on both paths.
    @F.pandas_udf(T.ArrayType(T.StringType()))
    def to_syms(col: pd.Series) -> pd.Series:
        return pd.Series([list(w) for w in col])

    words = (wfreq
             .select(to_syms("w").alias("syms"), "freq")
             .localCheckpoint())
    for rank in range(n_merges):
        pairs = words.selectExpr(
            "explode(arrays_zip(slice(syms, 1, size(syms) - 1), "
            "slice(syms, 2, size(syms) - 1))) as p", "freq"
        ).selectExpr("p['0'] as l", "p['1'] as r", "freq")
        top = (pairs.groupBy("l", "r").agg(F.sum("freq").alias("cnt"))
               .orderBy(F.desc("cnt"), "l", "r").limit(1).collect())
        if not top:
            break
        left, right, cnt = top[0][0], top[0][1], int(top[0][2])
        merges.append((rank, left, right, cnt))

        @F.pandas_udf(T.ArrayType(T.StringType()))
        def apply_merge(col: pd.Series) -> pd.Series:
            return pd.Series(
                [_bpe_merge_word(list(syms), left, right) for syms in col])

        # eager=True is LOAD-BEARING: apply_merge's closure reads the
        # shared left/right cells of the enclosing scope, so each round's
        # frame must be materialized before the next round rebinds them —
        # a lazy checkpoint would apply the final merge pair every round
        words = (words.withColumn("syms", apply_merge("syms"))
                 .localCheckpoint(eager=True))
    return spark.createDataFrame(
        merges, "rank long, left string, right string, pair_count long")


# the classic UTF-8-read-as-cp1252 mojibake table: damaged form -> true
# character.  Pairs are prefix-unambiguous so one replace chain repairs
# any mix; extend as needed (the operator is table-driven).
MOJIBAKE_PAIRS = [
    ("\u00c3\u00a9", "\u00e9"), ("\u00c3\u00a8", "\u00e8"),
    ("\u00c3\u00a4", "\u00e4"), ("\u00c3\u00b6", "\u00f6"),
    ("\u00c3\u00bc", "\u00fc"), ("\u00c3\u00b1", "\u00f1"),
    ("\u00c3\u00a7", "\u00e7"), ("\u00c3\u00a5", "\u00e5"),
    ("\u00c3\u00b8", "\u00f8"), ("\u00c3\u00a6", "\u00e6"),
    ("\u00c3\u00ad", "\u00ed"), ("\u00c3\u00b3", "\u00f3"),
    ("\u00c3\u00ba", "\u00fa"), ("\u00c3\u00a1", "\u00e1"),
    ("\u00e2\u20ac\u2122", "\u2019"),
    ("\u00e2\u20ac\u0153", "\u201c"),
    ("\u00e2\u20ac\u201c", "\u2013"),
    ("\u00e2\u20ac\u201d", "\u2014"),
    ("\u00e2\u20ac\u00a6", "\u2026"),
    ("\u00c2\u00ab", "\u00ab"), ("\u00c2\u00bb", "\u00bb"),
    ("\u00c2\u00b0", "\u00b0"),
]


def _sqlq(s: str) -> str:
    return s.replace("'", "''")


def mojibake_repair_sql(col: str) -> str:
    """Replace-chain repair of UTF-8-decoded-as-cp1252 damage -- the
    single most common crawl encoding defect (e-acute -> 'A-tilde
    copyright-ish pair', curly quotes -> three-char sequences...).
    Identical SQL text in Spark and DuckDB (plain replace()), so the
    repair is oracle-checkable; a production pipeline would hang ftfy at
    the same spot, this is the dependency-free table-driven core."""
    x = col
    for bad, good in MOJIBAKE_PAIRS:
        x = f"replace({x}, '{_sqlq(bad)}', '{_sqlq(good)}')"
    return x


def mojibake_damage_sql(col: str) -> str:
    """Forward damage transform (true char -> mojibake) -- the fixture
    builder: applying repair after damage restores the input exactly for
    every covered character."""
    x = col
    for bad, good in MOJIBAKE_PAIRS:
        x = f"replace({x}, '{_sqlq(good)}', '{_sqlq(bad)}')"
    return x


def mojibake_score_sql(col: str) -> str:
    """Telltale-sequence count: occurrences of the cp1252-mojibake lead
    characters.  Zero on clean text, positive on damaged text -- the
    detection side of the repair stage."""
    leads = ["\u00c3", "\u00e2\u20ac", "\u00c2"]
    terms = [occurrences_sql(col, lead) for lead in leads]
    return "(" + " + ".join(terms) + ")"


def chunk_docs(docs: DataFrame, chunk: int = 64, stride: int = 48,
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Overlapping-window document chunking -- the passage-splitting
    stage of a RAG / embedding pipeline: token windows of `chunk` tokens
    every `stride` tokens (chunk > stride overlaps windows so no
    boundary context is lost), the final window shorter.  Window starts
    stop as soon as the PREVIOUS window reached the document end (start
    <= n + stride - chunk), so no emitted chunk is a strict suffix of
    its predecessor -- the redundant-tail trap of naive sliding-window
    chunkers.  Output (doc_id, chunk_idx, start_tok, n_tok, chunk_hash)
    -- the hash is the join key to an embedding table; chunk text itself
    never shuffles.

    In-kernel end to end: split + sequence + slice + posexplode, all JVM
    codegen, no shuffle at all (chunking is embarrassingly row-local).
    """
    from pyspark.sql import functions as F  # noqa: F401

    from resolve_overlap_and_gap_spark.operators.dedup import normalize_sql

    norm = normalize_sql(text_col, SPARK)
    return (docs.selectExpr(
        f"cast({id_col} as bigint) as doc_id",
        f"split({norm}, ' ') as toks")
        .selectExpr(
            "doc_id",
            f"posexplode(transform(sequence(1, greatest(least("
            f"size(toks) + {stride} - {chunk}, size(toks)), 1), "
            f"{stride}), s -> struct(s as st, "
            f"array_join(slice(toks, s, {chunk}), ' ') as txt))) "
            "as (ci, c)")
        .selectExpr(
            "doc_id",
            "cast(ci as bigint) as chunk_idx",
            "cast(c.st as bigint) as start_tok",
            f"cast(size(split(c.txt, ' ')) as bigint) as n_tok",
            "md5(c.txt) as chunk_hash"))


def chunk_docs_duckdb_sql(chunk: int = 64, stride: int = 48,
                          text_col: str = "text", id_col: str = "doc_id",
                          table: str = "documents") -> str:
    """DuckDB twin of chunk_docs (same windows, same hash)."""
    from resolve_overlap_and_gap_spark.operators.dedup import normalize_sql

    norm = normalize_sql(text_col, "duckdb")
    return f"""
        with t as (select cast({id_col} as bigint) as doc_id,
                          string_split({norm}, ' ') as toks
                   from {table}),
        c as (select doc_id,
                     cast((s - 1) // {stride} as bigint) as chunk_idx,
                     cast(s as bigint) as start_tok,
                     array_to_string(toks[s:s + {chunk} - 1], ' ') as txt
              from t, unnest(generate_series(1, greatest(least(
                       len(toks) + {stride} - {chunk}, len(toks)), 1),
                                             {stride})) as u(s))
        select doc_id, chunk_idx, start_tok,
               cast(len(string_split(txt, ' ')) as bigint) as n_tok,
               md5(txt) as chunk_hash
        from c
    """
