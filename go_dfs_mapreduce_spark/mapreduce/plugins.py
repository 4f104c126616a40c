"""Python ports of the reference's two example plugins, for the parity
layer. Same contract as the Go originals: F_map appends alternating
key/value strings to `out`; F_reduce sees the whole sorted partition.

word_count  <- example_plugins/word_count/word_count.go:1-46
log_analyzer <- example_plugins/log_analyzer/log_analyzer.go:1-136

Deviations (documented, deliberate):
- top-k ties in log_analyzer_reduce break by key ascending; the Go
  original's argmax order is Go-map-iteration order, i.e. nondeterministic
  (SURVEY.md §7.5 #3), so *some* deterministic rule is required for tests.
- output strings carry no trailing newline (Sprintln artifact of the
  text-line transport; our transport is columns).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .job import FlatMapExpr, PerKeyIntSumFormat, ReduceExpr

WORD_COUNT_R = 26  # word_count.go:10
LOG_ANALYZER_R = 10  # log_analyzer.go:9

_STRIP = re.compile(r"[^a-zA-Z0-9]+")

# Exactly Python str.split()'s whitespace set (chars where str.isspace()
# is True), as a Java-regex character class for the lowered expression
# twins. Neither Java's \\s (ASCII-only) nor Unicode White_Space (which
# excludes the \x1c-\x1f separators) matches str.split() on its own, so
# the class is derived from str.isspace itself. All whitespace codepoints
# live in the BMP, and raw characters (not escapes) work in both the
# Python F.split API and SQL text fragments.
_PY_SPLIT_WS = "".join(chr(c) for c in range(0x10000) if chr(c).isspace())
_PY_SPLIT_RE = f"[{_PY_SPLIT_WS}]+"


def word_count_map(file_name: str, line_number: int, line_text: str, out: list) -> None:
    # word_count.go:12-22 — lowercase, Fields-split, strip, emit (token, 1)
    # for EVERY token including ones that strip to '' (no filter there).
    for t in line_text.lower().split():
        out.append(_STRIP.sub("", t))
        out.append("1")


def word_count_reduce(keys: list[str], values: list[str], out: list) -> None:
    # word_count.go:26-44 — per-key sum with skip-on-atoi-error, then
    # '%-12s :: %4d' formatting.
    tally: dict[str, int] = {}
    for k, v in zip(keys, values):
        try:
            iv = int(v)
        except ValueError:
            continue
        tally[k] = tally.get(k, 0) + iv
    for k in sorted(tally):  # Go map order is nondeterministic; sort for tests
        out.append("%-12s :: %4d" % (k, tally[k]))


# word_count_reduce is exactly a per-key integer sum + printf — declare the
# lowering so MapReduceJob can run it as native groupBy.agg (keys are
# ASCII-only after _STRIP, so Python sorted() == Spark binary string order)
word_count_reduce.lowering = PerKeyIntSumFormat("%-12s :: %4d")


def _word_count_map_df(df: DataFrame) -> DataFrame:
    """Expression twin of word_count_map: ``line.lower().split()`` is
    split-on-whitespace-runs with no empty tokens (so drop '' AFTER the
    regex split, which unlike Python emits empties at the edges), then
    strip non-alnum per token — emitting every token, even ones that strip
    to '' (word_count.go:12-22 has no filter). The split pattern is the
    enumerated _PY_SPLIT_RE class so the lowered path agrees with
    str.split() on Unicode whitespace too (property-tested with non-ASCII
    whitespace in test_mr_properties).

    r15 (guide §1.2 per-task work): the empty-token drop is a row Filter
    AFTER the explode instead of the array-lambda ``F.filter`` — higher-
    order functions are CodegenFallback (interpreted per row), while
    explode+Filter keeps the whole map phase inside whole-stage codegen.
    Same multiset of emitted pairs (edge empties are the only '' tokens a
    run-separator split can produce); measured -8.4% on mr_wordcount at
    sf0.1, lowered-vs-Arrow differential unchanged."""
    return (
        df.select(
            F.explode(F.split(F.lower(F.col("line")), _PY_SPLIT_RE)).alias("t")
        )
        .where(F.col("t") != "")
        .select(
            F.regexp_replace("t", "[^a-z0-9]+", "").alias("key"),
            F.lit("1").alias("value"),
        )
    )


word_count_map.lowering = FlatMapExpr(_word_count_map_df)


def log_analyzer_map(file_name: str, line_number: int, line_text: str, out: list) -> None:
    # log_analyzer.go:11-57 — extract crawler/url, normalize, emit
    # composite "crawler domain [path]" key with value 1.
    tokens = line_text.split()
    if len(tokens) < 4:
        return
    crawler = tokens[2]
    domain = tokens[3]
    if domain.startswith("http://"):
        domain = domain[7:]
    elif domain.startswith("https://"):
        domain = domain[8:]
    url = ""
    n = domain.find("/")
    if n > 0:
        url = domain[n + 1 :]
        domain = domain[:n]
    if not domain:
        return
    if domain[0] < "0" or domain[0] > "9":
        if domain.count(".") > 1:
            domain = domain[domain.index(".") + 1 :]
    else:
        n = domain.rfind(":")
        if n > 0:
            domain = domain[:n]
    if url:
        m = min(
            (i for i in (url.find("#"), url.find("?")) if i > 0), default=-1
        )
        if m > 0:
            url = url[:m]
        out.append(f"{crawler} {domain} {url}")
    else:
        out.append(f"{crawler} {domain}")
    out.append("1")


def log_analyzer_reduce(keys: list[str], values: list[str], out: list) -> None:
    # log_analyzer.go:58-135 — one pass feeding three tallies, then
    # summary lines + per-PARTITION top-10 domains / top-5 crawlers
    # (partition-wide, not global — SURVEY.md §7.5 #1).
    crawler_map: dict[str, int] = {}
    domain_map: dict[str, int] = {}
    url_map: dict[str, int] = {}
    for k, v in zip(keys, values):
        ks = k.split()
        try:
            iv = int(v)
        except ValueError:
            continue
        crawler_map[ks[0]] = crawler_map.get(ks[0], 0) + iv
        domain_map[ks[1]] = domain_map.get(ks[1], 0) + iv
        if len(ks) > 2:
            url_map[ks[1] + ks[2]] = url_map.get(ks[1] + ks[2], 0) + iv

    out.append("* Unique URLs:    %d" % (len(url_map) + len(domain_map)))
    out.append("* Unique Domains: %d" % len(domain_map))

    def top(m: dict[str, int], n: int) -> list[str]:
        return [k for k, _ in sorted(m.items(), key=lambda kv: (-kv[1], kv[0]))[:n]]

    top_dms = top(domain_map, min(10, len(domain_map)))
    top_crs = top(crawler_map, min(5, len(crawler_map)))
    if top_dms:
        out.append("* Top %d Websites:" % len(top_dms))
        out.extend("    - %s" % d for d in top_dms)
    if top_crs:
        out.append("* Top %d Crawlers:" % len(top_crs))
        out.extend("    - %s" % c for c in top_crs)


def _log_analyzer_map_df(df: DataFrame) -> DataFrame:
    """Expression twin of log_analyzer_map (log_analyzer.go:11-57). Every
    Python 0-based ``find/rfind`` guard translates to 1-based ``instr``:
    ``find('/') > 0`` == ``instr > 1`` (a leading '/' does NOT split),
    ``rfind(':') > 0`` == a colon exists before the last position
    (``instr(reverse) < length``), and only '#'/'?' at index > 0 trim the
    path. Empty-domain and short (< 4 token) rows emit nothing, matching
    the early returns.

    Shape note: the whole transformation is ONE expression whose
    intermediates (tokens, stripped domain, host/path split, ...) are
    bound as nested higher-order-function lambda variables. Chained
    ``withColumn`` stages would let CollapseProject inline each
    intermediate's tree at every reference — multiplicatively, until the
    serialized plan reached megabytes (observed: 12 MiB task binaries
    when the input `line` is itself a synthesized expression). Lambda
    variables are real let-bindings: every level references its variable,
    trees compose additively, and the plan stays KB-sized. HOFs run
    interpreted rather than codegen'd, but stay fully JVM-side — no
    Python, no Arrow transfer."""
    m = (
        "least(CASE WHEN instr(p.url, '#') > 1 THEN instr(p.url, '#') - 1 END,"
        " CASE WHEN instr(p.url, '?') > 1 THEN instr(p.url, '?') - 1 END)"
    )
    pairs = rf"""
    filter(
      transform(
        filter(array(filter(split(line, '{_PY_SPLIT_RE}'), t -> t != '')),
               tk -> size(tk) >= 4),
        tk -> transform(
          array(regexp_replace(get(tk, 3), '^https?://', '')),
          d0 -> transform(
            array(named_struct(
              'crawler', get(tk, 2),
              'dom', CASE WHEN instr(d0, '/') > 1
                          THEN substring(d0, 1, instr(d0, '/') - 1)
                          ELSE d0 END,
              'url', CASE WHEN instr(d0, '/') > 1
                          THEN substring(d0, instr(d0, '/') + 1)
                          ELSE '' END)),
            p -> transform(
              array(CASE WHEN substring(p.dom, 1, 1) BETWEEN '0' AND '9'
                         THEN CASE WHEN instr(reverse(p.dom), ':') > 0
                                        AND instr(reverse(p.dom), ':') < length(p.dom)
                                   THEN substring(p.dom, 1,
                                                  length(p.dom) - instr(reverse(p.dom), ':'))
                                   ELSE p.dom END
                         ELSE CASE WHEN length(p.dom) - length(replace(p.dom, '.', '')) > 1
                                   THEN substring(p.dom, instr(p.dom, '.') + 1)
                                   ELSE p.dom END
                    END),
              dom2 -> transform(
                array(CASE WHEN {m} IS NOT NULL
                           THEN substring(p.url, 1, {m})
                           ELSE p.url END),
                url2 -> named_struct(
                  'keep', p.dom != '',
                  'key', CASE WHEN url2 != ''
                              THEN concat(p.crawler, ' ', dom2, ' ', url2)
                              ELSE concat(p.crawler, ' ', dom2) END)
              )[0]
            )[0]
          )[0]
        )[0]
      ),
      s -> s.keep)
    """
    return df.select(F.explode(F.expr(pairs)).alias("s")).select(
        F.col("s.key").alias("key"), F.lit("1").alias("value")
    )


log_analyzer_map.lowering = FlatMapExpr(_log_analyzer_map_df)


def _log_analyzer_reduce_df(kv: DataFrame) -> DataFrame:
    """Expression twin of log_analyzer_reduce: the three tallies become
    three aggregates over the parsed key parts, the summary counts and
    per-PARTITION top-k blocks are assembled with computed ``seq`` values
    that replicate the plugin's append order (headers at 0-1, website
    block at 2.., crawler block offset by the website block's length).
    r_ids whose values all fail int-parse still emit the two zero-count
    header lines, exactly like the Python tally loop."""
    ks = F.split(F.col("key"), " ")
    rows = kv.select(
        "r_id",
        F.get(ks, 0).alias("crawler"),
        F.get(ks, 1).alias("domain"),
        F.get(ks, 2).alias("path"),
        F.expr("try_cast(value AS BIGINT)").alias("v"),
    )
    # ONE aggregation over the full composite key carries every downstream
    # tally; ``trip`` has one consumer (the pipeline below), so the corpus
    # is scanned once inside the job and nothing runs at plan
    # construction. Materializing it first was measured on a 4-vCPU VM at
    # local[4] (perfbench dfs_stream corpus, lowered run + pull,
    # interleaved reps in one JVM): an eager ``localCheckpoint`` was no
    # faster (medians 1.00 vs 1.01 s and 1.12 vs 1.05 s in two sets of 10
    # reps, with vs without), and ``.cache()`` + ``count()`` was slower
    # (1.89 vs 1.45 s) and left a CacheManager entry in the session. Rows
    # whose values ALL fail int-parse keep their r_id here with a NULL
    # total (SUM ignores nulls), preserving the plugin's zero-count
    # header-only output for such partitions.
    trip = rows.groupBy("r_id", "crawler", "domain", "path").agg(
        F.sum("v").alias("cnt")
    )
    # r15 restructure (guide §2.4 "remove shuffles outright" / §1.2): the
    # previous shape assembled the summary as a UNION of SIX independent
    # aggregation subtrees over the triple frame (dm/cr/ur counts,
    # two windows, header joins) — ~12 tiny exchanges and their stage
    # scheduling dominated the query (3.2 s of the 4.9 s total at sf0.1
    # for a 75-row output). Now ONE long-format pipeline: explode each
    # triple into (kind, name) rows ('b'ase marker rows keep all-null-cnt
    # r_ids alive for the zero-count headers), ONE aggregation to the
    # per-(r_id, kind, name) tallies, ONE window pass for rank + group
    # size, ONE per-r_id aggregation collecting the (bounded: <=10/<=5)
    # top arrays, then posexplode assembles the report lines with seq =
    # array position — which reproduces the plugin's append order (headers
    # at 0-1, website block, crawler block offset by the website block's
    # length) by construction. Same output, hash-verified vs the DuckDB
    # oracle at all three SFs; measured 4.9 s -> 1.9 s at sf0.1 (median of 5, bench methodology).
    long = trip.select(
        "r_id",
        F.explode(
            F.expr(
                "filter(array("
                " named_struct('kind', 'b', 'name', CAST(NULL AS STRING),"
                "              'c', CAST(NULL AS BIGINT)),"
                " IF(cnt IS NOT NULL,"
                "    named_struct('kind', 'd', 'name', domain, 'c', cnt),"
                "    NULL),"
                " IF(cnt IS NOT NULL,"
                "    named_struct('kind', 'c', 'name', crawler, 'c', cnt),"
                "    NULL),"
                " IF(cnt IS NOT NULL AND path IS NOT NULL,"
                "    named_struct('kind', 'u', 'name', concat(domain, path),"
                "                 'c', cnt),"
                "    NULL)"
                "), x -> x IS NOT NULL)"
            )
        ).alias("e"),
    ).select("r_id", "e.kind", "e.name", "e.c")
    tallies = long.groupBy("r_id", "kind", "name").agg(F.sum("c").alias("cnt"))
    wk = Window.partitionBy("r_id", "kind").orderBy(F.desc("cnt"), F.asc("name"))
    wn = Window.partitionBy("r_id", "kind")
    ranked = tallies.select(
        "r_id",
        "kind",
        "name",
        F.row_number().over(wk).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    pruned = ranked.where(
        ((F.col("kind") == "d") & (F.col("rn") <= 10))
        | ((F.col("kind") == "c") & (F.col("rn") <= 5))
        | ((F.col("kind").isin("u", "b")) & (F.col("rn") == 1))
    )
    per = pruned.groupBy("r_id").agg(
        F.coalesce(F.max(F.when(F.col("kind") == "d", F.col("n"))), F.lit(0))
        .alias("n_dom"),
        F.coalesce(F.max(F.when(F.col("kind") == "u", F.col("n"))), F.lit(0))
        .alias("n_url"),
        F.expr(
            "transform(array_sort(collect_list(CASE WHEN kind = 'd' THEN"
            " named_struct('rn', rn, 'name', name) END)), s -> s.name)"
        ).alias("top_doms"),
        F.expr(
            "transform(array_sort(collect_list(CASE WHEN kind = 'c' THEN"
            " named_struct('rn', rn, 'name', name) END)), s -> s.name)"
        ).alias("top_crws"),
    )
    lines = per.select(
        "r_id",
        F.expr(
            "concat("
            " array(format_string('* Unique URLs:    %d', n_url + n_dom),"
            "       format_string('* Unique Domains: %d', n_dom)),"
            " IF(size(top_doms) > 0,"
            "    array(format_string('* Top %d Websites:', size(top_doms))),"
            "    array()),"
            " transform(top_doms, d -> concat('    - ', d)),"
            " IF(size(top_crws) > 0,"
            "    array(format_string('* Top %d Crawlers:', size(top_crws))),"
            "    array()),"
            " transform(top_crws, c -> concat('    - ', c)))"
        ).alias("lines"),
    )
    return lines.select(
        "r_id", F.posexplode("lines").alias("seq", "line")
    ).select("r_id", F.col("seq").cast("int").alias("seq"), "line")


log_analyzer_reduce.lowering = ReduceExpr(_log_analyzer_reduce_df)
