"""Text-analysis operators for large-scale training-data pipelines.

Beyond-reference surface (BASELINE.json north star): language-ID, quality
scoring, token counting, document fingerprinting. Everything here is pure
Catalyst (JVM-side, whole-stage codegen) — no Python in the hot path — so it
scales linearly with executors over 100 TB of text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# word-boundary token pattern shared by the token counter and the BPE-ish
# estimator: letter runs, digit runs, or single non-space symbols
BPE_TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

STOPWORDS_EN = [
    "the", "a", "an", "of", "and", "to", "in", "is", "it", "that", "for",
    "on", "with", "as", "was", "at", "by", "be",
]

# tiny stopword profiles for the n-gram/stopword language heuristic
LANGUAGE_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "est", "une", "des"],
    "es": ["el", "la", "los", "y", "es", "una", "que"],
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (empty-safe)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.trim(c), "\\s+"), lambda t: t != "")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def bpe_token_count(text: Column | str) -> Column:
    """BPE-ish sub-word token estimate: count of letter-runs / digit-runs /
    symbols. A cheap, deterministic proxy for tokenizer load planning."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_PATTERN), F.lit(0)))


#: cp1252's C1 range (0x80-0x9F): the 27 printable assignments where
#: Windows-1252 differs from ISO-8859-1 (which maps them to control
#: characters) — € ‚ ƒ „ … † ‡ ˆ ‰ Š ‹ Œ Ž ' ' " " • – — ˜ ™ š › œ ž Ÿ.
#: Built from Python's own cp1252 codec so the table can't drift.
_CP1252_FROM = ""
_CP1252_TO = ""
for _c in range(0x80, 0xA0):
    try:
        _ch = bytes([_c]).decode("cp1252")
    except UnicodeDecodeError:  # 0x81 0x8D 0x8F 0x90 0x9D: undefined
        continue
    _CP1252_FROM += chr(_c)
    _CP1252_TO += _ch


#: Process-wide cache of built Column plans, keyed by (helper name,
#: column-name/scalar params). The DataFrame helpers below assemble
#: thousands-of-node expression trees one py4j call at a time —
#: measured 120-220 ms per call steady-state on the driver — and the
#: trees depend ONLY on column names and scalar parameters, never on
#: the input DataFrame. A per-micro-batch stream (crawl_stream) used
#: to pay that driver-side build cost for an identical tree on every
#: batch; a Column is an immutable expression wrapper, so reusing one
#: across plans is exactly the module-level ``F.col()`` idiom.
_PLAN_CACHE: dict = {}


def decode_payloads(
    df: DataFrame,
    payload_col: str = "payload",
    mime_col: str = "mime",
    text_col: str = "text",
    charset_col: str = "charset",
) -> DataFrame:
    """Charset-aware payload→text intake (r13) — the HTML5 §13.2.3
    prescan order, deterministic core. Real crawls are NOT UTF-8: a
    plain ``payload.cast("string")`` turns every Latin-1/Windows-1252/
    UTF-16 page into mojibake BEFORE language-ID, quality signals, and
    fingerprint dedup ever see it. Precedence (first hit wins):

    1. **BOM** — FF FE → UTF-16LE, FE FF → UTF-16BE, EF BB BF → UTF-8
       (stripped before decoding; a BOM overrides any declared name);
    2. **Content-Type** ``charset=`` parameter from ``mime_col``;
    3. **``<meta charset>``** inside the first 1024 bytes (the HTML5
       prescan window — ASCII-compatible by construction);
    4. **UTF-8 fallback** (also covers ascii/us-ascii and unknown
       names — the web's declared-charset long tail is mostly lies).

    Windows-1252 decodes as REAL cp1252, not Latin-1: the C1 range's
    27 printable assignments are applied via one ``translate`` over
    the ISO-8859-1 decode (€ " — ™ …); pair with
    :func:`fix_mojibake` for UNDECLARED cp1252 masquerading as UTF-8.
    UTF-16 bodies that are structurally malformed — odd byte length,
    or an UNPAIRED surrogate code unit (the only other malformation
    UTF-16 admits) — fall back to the raw cast instead of decoding:
    under Spark 4 ANSI ``F.decode`` RAISES on malformed input, and in
    a stream one hostile page with a lying ``charset=utf-16`` header
    would otherwise fail its whole foreachBatch batch forever (r14,
    per r13 ADVICE). The surrogate check is a parity-anchored rlike
    over the byte-transparent ISO-8859-1 view — pure Catalyst, and
    only evaluated on rows already routed to a UTF-16 branch
    (CaseWhen is lazy per row).

    Adds ``charset_col`` (the canonical charset actually used — the
    audit column) and ``text_col``. Pure Catalyst projections staged
    per the stage-before-reference rule; map-side, no shuffle, no UDF.
    The three staged expressions are cached process-wide per column-name
    tuple (see :data:`_PLAN_CACHE`) — ~210 ms of driver-side py4j tree
    building that a per-batch stream otherwise repays every micro-batch.
    """
    ckey = ("decode_payloads", payload_col, mime_col, text_col, charset_col)
    cached = _PLAN_CACHE.get(ckey)
    if cached is not None:
        charset, body, text = cached
        # two analysis passes, not four: charset/_cs_body are
        # independent (one withColumns), and the text projection
        # folds the _cs_body drop into its own select (r14-opt §1:
        # every withColumn/drop re-analyzes the whole accumulated
        # tree eagerly — a measurable per-micro-batch driver constant
        # on the crawl chain)
        out = df.withColumns({charset_col: charset, "_cs_body": body})
        keep = [c for c in out.columns if c not in ("_cs_body", text_col)]
        return out.select(*keep, text.alias(text_col))
    p = F.col(payload_col)
    bom16le = F.substring(p, 1, 2) == F.lit(b"\xff\xfe")
    bom16be = F.substring(p, 1, 2) == F.lit(b"\xfe\xff")
    bom8 = F.substring(p, 1, 3) == F.lit(b"\xef\xbb\xbf")
    head = F.substring(p, 1, 1024).cast("string")
    decl = F.lower(
        F.coalesce(
            F.nullif(
                F.regexp_extract(
                    F.coalesce(F.col(mime_col), F.lit("")),
                    r"(?i)charset=['\"]?\s*([A-Za-z0-9_\-]+)", 1,
                ),
                F.lit(""),
            ),
            F.nullif(
                F.regexp_extract(
                    head,
                    r"(?i)<meta[^>]{0,200}?charset\s*=\s*['\"]?"
                    r"([A-Za-z0-9_\-]+)", 1,
                ),
                F.lit(""),
            ),
            F.lit(""),
        )
    )
    canon = (
        F.when(
            decl.isin("iso-8859-1", "iso8859-1", "latin-1", "latin1", "l1"),
            F.lit("iso-8859-1"),
        )
        .when(
            decl.isin("windows-1252", "cp1252", "x-cp1252"),
            F.lit("windows-1252"),
        )
        .when(decl == "utf-16le", F.lit("utf-16le"))
        .when(decl == "utf-16be", F.lit("utf-16be"))
        # bare "utf-16" without a BOM is little-endian on the real web
        # (the HTML5 rule: BOM-sniff, else LE)
        .when(decl == "utf-16", F.lit("utf-16le"))
        .otherwise(F.lit("utf-8"))
    )
    charset = (
        F.when(bom8, F.lit("utf-8"))
        .when(bom16le, F.lit("utf-16le"))
        .when(bom16be, F.lit("utf-16be"))
        .otherwise(canon)
    )
    body = (
        F.when(bom8, F.substring(p, 4, F.length(p)))
        .when(bom16le | bom16be, F.substring(p, 3, F.length(p)))
        .otherwise(p)
    )
    out = df.withColumns({charset_col: charset, "_cs_body": body})
    b = F.col("_cs_body")
    cs = F.col(charset_col)
    latin = F.decode(b, "ISO-8859-1")
    # Unpaired-surrogate scan on the byte-transparent latin view: a
    # UTF-16 code unit is a 2-byte pair whose HIGH byte marks the
    # surrogate class (D8-DB = high surrogate, DC-DF = low). LE puts
    # the high byte at odd offsets, BE at even; (?:[\s\S]{2})* anchors
    # unit parity, and the four alternatives per endianness are: lone
    # high at end, high followed by a non-low unit, lone low at start,
    # low after a non-high unit. Valid astral pairs match none.
    bad16le = (
        latin.rlike("^(?:[\\s\\S]{2})*[\\s\\S][\\xd8-\\xdb]$")
        | latin.rlike(
            "^(?:[\\s\\S]{2})*[\\s\\S][\\xd8-\\xdb][\\s\\S][^\\xdc-\\xdf]"
        )
        | latin.rlike("^[\\s\\S][\\xdc-\\xdf]")
        | latin.rlike(
            "^(?:[\\s\\S]{2})*[\\s\\S][^\\xd8-\\xdb][\\s\\S][\\xdc-\\xdf]"
        )
    )
    bad16be = (
        latin.rlike("^(?:[\\s\\S]{2})*[\\xd8-\\xdb][\\s\\S]$")
        | latin.rlike(
            "^(?:[\\s\\S]{2})*[\\xd8-\\xdb][\\s\\S][^\\xdc-\\xdf]"
        )
        | latin.rlike("^[\\xdc-\\xdf]")
        | latin.rlike(
            "^(?:[\\s\\S]{2})*[^\\xd8-\\xdb][\\s\\S][\\xdc-\\xdf]"
        )
    )
    text = (
        F.when(cs == "iso-8859-1", latin)
        .when(
            cs == "windows-1252",
            F.translate(latin, _CP1252_FROM, _CP1252_TO),
        )
        .when(
            cs == "utf-16le",
            F.when(
                (F.length(b) % 2 == 0) & ~bad16le,
                F.decode(b, "UTF-16LE"),
            ).otherwise(b.cast("string")),
        )
        .when(
            cs == "utf-16be",
            F.when(
                (F.length(b) % 2 == 0) & ~bad16be,
                F.decode(b, "UTF-16BE"),
            ).otherwise(b.cast("string")),
        )
        .otherwise(b.cast("string"))
    )
    _PLAN_CACHE[ckey] = (charset, body, text)
    keep = [c for c in out.columns if c not in ("_cs_body", text_col)]
    return out.select(*keep, text.alias(text_col))


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features + a composite quality score.

    Features: token count, char count, mean token length, punctuation /
    digit / whitespace ratios, stopword ratio, uppercase ratio. The score is
    a bounded [0,1] combination tuned for "does this read like prose".
    """
    c = F.col(text_col)
    toks = tokens(c)
    n_chars = F.length(c)
    n_tokens = F.size(toks)
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    safe_tokens = F.greatest(n_tokens, F.lit(1)).cast("double")

    n_punct = n_chars - F.length(F.regexp_replace(c, "[\\p{Punct}]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(c, "[0-9]", ""))
    n_upper = n_chars - F.length(F.regexp_replace(c, "[A-Z]", ""))
    n_space = n_chars - F.length(F.regexp_replace(c, "\\s", ""))
    stop_hits = F.size(
        F.filter(toks, lambda t: F.lower(t).isin(STOPWORDS_EN))
    )

    out = (
        df.withColumn("n_tokens", n_tokens)
        .withColumn("n_chars_computed", n_chars)
        .withColumn(
            "mean_token_len",
            F.round((n_chars - n_space) / safe_tokens, 4),
        )
        .withColumn("punct_ratio", F.round(n_punct / safe_chars, 4))
        .withColumn("digit_ratio", F.round(n_digit / safe_chars, 4))
        .withColumn("upper_ratio", F.round(n_upper / safe_chars, 4))
        .withColumn("stopword_ratio", F.round(stop_hits / safe_tokens, 4))
    )
    # prose-likeness: length in a sane band, some stopwords, low digit/punct
    score = (
        F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0)) * 0.3
        + F.least(F.col("stopword_ratio") * F.lit(5.0), F.lit(1.0)) * 0.3
        + (F.lit(1.0) - F.least(F.col("digit_ratio") * 5, F.lit(1.0))) * 0.2
        + (F.lit(1.0) - F.least(F.col("punct_ratio") * 5, F.lit(1.0))) * 0.2
    )
    return out.withColumn("quality_score", F.round(score, 4))


def language_id(
    df: DataFrame,
    text_col: str = "text",
    profiles: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Stopword-profile language heuristic: per-language hit counts over the
    token stream; argmax wins, 'und' (undetermined) when nothing hits.

    Deterministic tie-break: higher count wins, then lexicographic language
    code — so Spark and any oracle agree exactly.

    With the default profile set the per-language hit expressions are
    cached process-wide per ``text_col`` (:data:`_PLAN_CACHE`).
    """
    ckey = (
        ("language_id", text_col) if profiles is None else None
    )
    steps = _PLAN_CACHE.get(ckey) if ckey is not None else None
    if steps is None:
        profiles = profiles or LANGUAGE_PROFILES
        toks = tokens(F.col(text_col))

        def hits_for(words: list[str]):
            # NB: single-arg lambda — a two-arg lambda would make
            # F.filter bind the array index to the second parameter
            return F.size(F.filter(toks, lambda t: F.lower(t).isin(words)))

        steps = [
            (f"hits_{lang}", hits_for(words))
            for lang, words in sorted(profiles.items())
        ] + [(
            "detected_lang",
            F.when(
                F.greatest(
                    *[F.col(f"hits_{lang}") for lang in sorted(profiles)]
                )
                == 0,
                F.lit("und"),
            ).otherwise(_argmax_lang(sorted(profiles))),
        )]
        if ckey is not None:
            _PLAN_CACHE[ckey] = steps
    # two analysis passes, not len(profiles)+1: the per-language hit
    # columns are mutually independent (one withColumns), only the
    # argmax references them (r14-opt §1 — eager per-withColumn
    # re-analysis is a driver constant per micro-batch)
    out = df.withColumns(dict(steps[:-1]))
    return out.withColumns(dict(steps[-1:]))


def _argmax_lang(langs: list[str]) -> Column:
    """Fold an argmax over (hits, lang) preferring higher hits, then earlier
    language code — a deterministic CASE cascade (no UDF)."""
    best = F.lit(langs[0])
    best_hits = F.col(f"hits_{langs[0]}")
    for lang in langs[1:]:
        cond = F.col(f"hits_{lang}") > best_hits
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_hits = F.when(cond, F.col(f"hits_{lang}")).otherwise(best_hits)
    return best


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprints:

    - `fingerprint_md5`: md5 of whitespace-normalized lowercase text (exact
      content identity modulo spacing)
    - `fingerprint_rolling`: xxhash64 rolling over 4-token windows, combined
      order-insensitively (winnowing-style content signature robust to
      local edits)
    """
    c = F.col(text_col)
    normalized = F.lower(F.regexp_replace(F.trim(c), "\\s+", " "))
    # stage the token array as its OWN projection before the window
    # lambda: referencing the raw tokens(text) expression inside a
    # per-index lambda makes Catalyst inline the regex tokenization into
    # every element_at — measured ~20× slower on the bench corpus (the
    # same trap ngram_lm_score documents)
    staged = df.withColumn("_fp_tk", tokens(c))
    toks = F.col("_fp_tk")
    n = F.size(toks)
    # guard short docs: sequence(0, n-4) counts DOWN when n < 4 and
    # element_at would then range-error under ANSI mode
    windows = F.when(
        n >= 4,
        F.transform(
            F.sequence(F.lit(0), n - 4),
            lambda i: F.xxhash64(
                F.concat_ws(
                    " ",
                    F.element_at(toks, i + 1),
                    F.element_at(toks, i + 2),
                    F.element_at(toks, i + 3),
                    F.element_at(toks, i + 4),
                )
            ),
        ),
    ).otherwise(F.transform(toks, lambda t: F.xxhash64(t)))
    # XOR combine: order-insensitive and overflow-free under ANSI mode
    rolling = F.aggregate(
        windows, F.lit(0).cast("long"), lambda acc, h: acc.bitwiseXOR(h)
    )
    return (
        staged.withColumn("fingerprint_md5", F.md5(normalized))
        .withColumn("fingerprint_rolling", rolling)
        .drop("_fp_tk")
    )


# ---------------------------------------------------------------------------
# corpus-level curation: deterministic sampling, contamination, heavy hitters
# ---------------------------------------------------------------------------

def deterministic_sample(
    df: DataFrame,
    key_cols: list[str],
    rate: float,
    salt: str = "",
) -> DataFrame:
    """Deterministic hash sampling: keep a row iff the md5 of its key
    hashes below `rate`. Unlike df.sample(), the decision is a pure
    function of the row key — reproducible across runs, cluster sizes, and
    engines (any system with md5 selects the SAME rows, so a sample taken
    by the Spark pipeline can be re-derived exactly by a warehouse audit
    query), and it is a map-side filter Catalyst pushes into the scan: no
    shuffle, no RNG state, linear at 100 TB.

    The uniform variate is the first 8 hex chars of
    md5(salt || key_cols joined by ':') compared lexicographically against
    the hex rendering of rate·16^8 — md5 hex is uniform, so P(keep) = rate.
    `salt` derives independent samples from the same keys (e.g. train/eval
    splits)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    key = F.concat_ws(
        ":", F.lit(salt), *[F.col(c).cast("string") for c in key_cols]
    )
    return df.filter(F.substring(F.md5(key), 1, 8) < F.lit(_hex_thr(rate)))


def split_assign(
    df: DataFrame,
    key_cols: list[str],
    rates: dict[str, float],
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic, CONTAMINATION-SAFE train/val/test assignment: the
    split is a pure function of the md5 of ``key_cols`` — key the split
    on a CONTENT fingerprint (or dedup-cluster id), not the row id, and
    every copy of a duplicated document lands in the SAME split, so
    near-dup families can never straddle train and test (the benchmark-
    leakage failure mode dedup pipelines exist to prevent).

    Cumulative md5-prefix thresholds in ``rates`` insertion order (the
    :func:`deterministic_sample` variate — engine-independent, so a
    warehouse audit query re-derives the exact assignment); rates must
    sum to 1 (±1e-9). Map-side expression only: no shuffle, no RNG
    state, linear at 100 TB. ``salt`` derives independent splittings."""
    total = sum(rates.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"rates must sum to 1, got {total}")
    if len(rates) < 2:
        raise ValueError("need at least two splits")
    key = F.concat_ws(
        ":", F.lit(salt), *[F.col(c).cast("string") for c in key_cols]
    )
    h = F.substring(F.md5(key), 1, 8)
    names = list(rates)
    expr = F.lit(names[-1])
    cum = 0.0
    chain = []
    for name in names[:-1]:
        cum += rates[name]
        chain.append((name, _hex_thr(cum)))
    for name, thr in reversed(chain):
        expr = F.when(h < F.lit(thr), F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)


def shard_plan(
    df: DataFrame,
    target_tokens: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-BALANCED output sharding: assign each document to a shard
    so every shard holds ~``target_tokens`` (greedy by running total —
    a shard's overshoot is bounded by one document). Training
    dataloaders want uniform shards; naive row-count sharding skews by
    document length.

    Deterministic: documents pack in ``id_col`` order WITHIN each
    source (shards never mix sources — the x22/x23 mixture semantics),
    so the plan is reproducible across runs and engines. One window
    sort per source partition; no global ordering bottleneck — at 100
    TB each source's window runs parallel to the others, and a single
    skewed source can be pre-split on a salt of the id order."""
    if target_tokens < 1:
        raise ValueError("target_tokens must be >= 1")
    from pyspark.sql import Window

    toks = token_count(F.col(text_col))
    out = df.withColumn("n_tokens", toks)
    w = (
        Window.partitionBy(source_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run_excl = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return out.withColumn(
        "shard",
        F.floor(run_excl / F.lit(float(target_tokens))).cast("int"),
    )


def _hex_thr(rate: float) -> str:
    """Lexicographic md5-prefix threshold for a keep-rate. rate=1.0 would
    render as 9 hex chars ("100000000"), which sorts BELOW 8-char
    prefixes starting with '2'..'f' and silently drops them — so full
    rate returns "g", which sorts above every hex digit (keep-all)."""
    v = int(rate * (1 << 32))
    return "g" if v >= (1 << 32) else format(v, "08x")


def ngrams_from_tokens(toks: Column, n: int, sep: str = " ") -> Column:
    """ALL word n-grams (duplicates kept, document order) from an
    ALREADY-projected token array column. Stage the tokenization as its
    own projection in hot paths: this expression references the token
    array ~2n times and higher-order functions are codegen-fallback, so
    inlining tokens() re-splits the text per reference."""
    size = F.size(toks)
    m = size - (n - 1)
    grams = F.slice(toks, 1, m)
    for j in range(1, n):
        part = F.slice(toks, j + 1, m)
        grams = F.zip_with(
            grams, part, lambda a, b: F.concat(a, F.lit(sep), b)
        )
    empty = F.array().cast("array<string>")
    return F.when(size >= n, grams).otherwise(empty)


def ngram_set_from_tokens(toks: Column, n: int, sep: str = " ") -> Column:
    """Distinct word n-grams from a pre-projected token array column (see
    ngrams_from_tokens for the staging rationale)."""
    return F.array_distinct(ngrams_from_tokens(toks, n, sep))


def _grams_staged(df: DataFrame, text_col: str, n: int) -> DataFrame:
    """(original columns…, gram) — one row per distinct n-gram, with the
    tokenization staged as its own projection (split once per document)."""
    return (
        df.withColumn("_toks", tokens(F.col(text_col)))
        .withColumn("gram", F.explode(ngram_set_from_tokens(F.col("_toks"), n)))
        .drop("_toks")
    )


def contamination(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark-contamination check: per corpus document, how many of its
    distinct word n-grams also occur in the benchmark set. Documents with
    n_contaminated > 0 leak evaluation data and should be dropped before
    training.

    Corpus n-grams stream map-side (explode of a per-row array — no
    pre-shuffle); the benchmark's distinct n-gram set is BROADCAST:
    benchmarks are small by construction (thousands of documents), so even
    at a 100 TB corpus the join is a broadcast-hash semi pass with no
    corpus shuffle. The only exchange is the final per-doc count groupBy,
    keyed on (id) — narrow. Output: (id, n_contaminated) for contaminated
    documents only.
    """
    grams = _grams_staged(
        df.select(F.col(id_col).alias("id"), text_col), text_col, n
    ).select("id", "gram")
    bench_grams = (
        _grams_staged(benchmark.select(text_col), text_col, n)
        .select("gram")
        .distinct()
    )
    return (
        grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("id")
        .agg(F.count("*").alias("n_contaminated"))
        .select(F.col("id").alias(id_col), "n_contaminated")
    )


def top_ngrams(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    k: int = 20,
) -> DataFrame:
    """Corpus-wide heavy hitters: the k most frequent word n-grams
    (document frequency — each document counts a gram once). One shuffle:
    explode streams grams map-side, the groupBy count applies map-side
    partial aggregation, and the top-k is a TakeOrderedAndProject (no
    global sort materialization). Ties break on the gram string so the
    result is deterministic."""
    return (
        _grams_staged(df.select(text_col), text_col, n)
        .select("gram")
        .groupBy("gram")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("gram"))
        .limit(k)
    )


def unigram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 1000,
) -> DataFrame:
    """Corpus-derived unigram language-model quality score per document —
    the classic cheap LM filter (CCNet/Gopher-style: docs whose tokens
    the corpus itself finds improbable are boilerplate/noise candidates).

    Model: the top ``vocab_size`` tokens by corpus frequency (ties broken
    on the token string — deterministic) form the vocabulary; a token
    outside it is OOV. Per document (token-less docs drop — no signal):
      n_tokens, n_oov, oov_rate = n_oov/n_tokens,
      mean_prob_ppm = Σ c(t)·10⁶ / (N · n_tokens) over in-vocab tokens —
    the arithmetic-mean unigram probability in parts-per-million. All
    inputs to the two divisions are exact integers and each division is
    one correctly-rounded IEEE-754 op, so the score is bit-identical
    across engines — deliberately NO ln(): libm log differs between
    engines (the pow() trap), while this score ranks documents the same
    way for filtering purposes.

    Scale shape: one token-count shuffle (wordcount — map-side combined),
    vocabulary as a TakeOrderedAndProject of V rows broadcast back onto
    the token stream (no second corpus shuffle for the lookup), one
    per-doc aggregation shuffle keyed on id. The corpus total N rides a
    broadcast single-row cross join — in-plan control data, no collect.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(text_col)).alias("tok"),
    )
    return _lm_score_from_tokens(toks, id_col, vocab_size)


def ngram_lm_score(
    df: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 1000,
) -> DataFrame:
    """:func:`unigram_lm_score` generalized to word n-grams: the corpus's
    top-``vocab_size`` n-grams form the vocabulary and each document is
    scored by its n-gram OOV rate and mean n-gram probability (ppm). An
    n=2 model catches word-ORDER anomalies the unigram filter is blind
    to (shuffled/templated text has normal unigram stats but improbable
    bigrams) — the standard second-stage cheap LM filter. Same integer-
    exact, ln()-free construction as the unigram scorer, so results stay
    bit-identical across engines. Output column names match the unigram
    scorer (n_tokens counts n-grams here).

    Scale shape identical to the unigram path: the n-gram stream is
    produced map-side by a zip of the STAGED token array against its
    shifted slices (one pass per gram position — the bpe_pair_counts
    pattern; no self-join), then one n-gram-count shuffle, a broadcast-
    back vocabulary, one per-doc aggregation. Docs with < n tokens have
    no n-grams and drop (no signal), mirroring the token-less drop
    above. The token array MUST be staged as its own projection before
    the gram build: referencing the raw ``tokens(text)`` expression
    inside a per-index lambda makes Catalyst inline the regex
    tokenization into every lambda invocation — measured 8× slower on
    the bench corpus.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if n == 1:
        return unigram_lm_score(df, id_col, text_col, vocab_size)
    staged = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("_tk")
    )
    toks = staged.select(
        "id", F.explode(_gram_array(F.col("_tk"), n)).alias("tok")
    )
    return _lm_score_from_tokens(toks, id_col, vocab_size)


def _gram_array(tk: Column, n: int) -> Column:
    """Word n-grams of a STAGED token-array column, map-side: gram i =
    tokens[i..i+n-1] joined on \\x02 (tokens are whitespace-split so the
    separator cannot occur inside a token) — a fold of zip_with over n
    shifted slices, O(n·len) total, single pass. The < n-token case must
    be an EMPTY array, not sequence(1,0) — Spark's sequence counts DOWN
    when stop < start, which would fabricate grams from short docs."""
    m = F.size(tk) - (n - 1)
    grams = F.slice(tk, 1, F.greatest(m, F.lit(0)))
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(tk, j + 1, F.greatest(m, F.lit(0))),
            lambda a, b: F.concat(a, F.lit("\x02"), b),
        )
    return grams


def contrastive_score(
    df: DataFrame,
    target_value: str,
    source_col: str = "source",
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-shaped data-selection signal (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling" — hashed
    n-gram importance weights): score EVERY document by how much more
    typical its n-grams are of the TARGET domain (rows where
    ``source_col == target_value``) than of the rest of the corpus, in
    this engine's integer-exact ln()-free style (the x17/x18 recipe:
    libm log differs across engines; a mean-frequency lift ranks
    documents the same way for selection purposes). Per n-gram g,
    T_g / R_g = occurrences inside / outside the target; per document:

      n_grams,
      target_ppm = Σ T_g · 10⁶ / (T_total · n_grams)   (mean target freq)
      raw_ppm    = Σ R_g · 10⁶ / (R_total · n_grams)   (mean raw freq)
      lift_milli = 1000 · (ΣT_g + 1)(R_total + 1)
                        / ((ΣR_g + 1)(T_total + 1))    (add-one smoothed)

    — each FACTOR is an exact integer cast to double before the
    multiply (never a LONG product: st·R can exceed int64 at corpus
    scale and would wrap in non-ANSI Spark), so while the products stay
    below 2⁵³ — true at every oracle SF — the values are bit-identical
    across engines; past 2⁵³ they round instead of wrapping. High-lift
    raw documents are the DSIR keep set. A degenerate corpus (T_total
    or R_total == 0: no target grams, or no raw grams) raises in-plan
    via assert_true rather than emitting silent NULL/inf scores. Scale
    shape: one gram-count shuffle (map-side combined, T and R counted
    in the same aggregate), the per-gram join back co-partitioned on
    the gram key, one per-doc aggregation, totals as an in-plan
    broadcast single-row cross join (no collect). Docs with < n tokens
    have no grams and drop (no signal)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    staged = df.select(
        F.col(id_col).alias("id"),
        (F.col(source_col) == F.lit(target_value)).cast("long").alias(
            "_is_t"
        ),
        tokens(text_col).alias("_tk"),
    )
    toks = staged.select(
        "id", "_is_t", F.explode(_gram_array(F.col("_tk"), n)).alias("g")
    )
    counts = toks.groupBy("g").agg(
        F.sum("_is_t").alias("tc"),
        F.sum(F.lit(1) - F.col("_is_t")).alias("rc"),
    )
    # The degenerate-corpus guard is threaded THROUGH BOTH T and R (not
    # a separate column) so column pruning cannot drop it: every output
    # column divides by T or R, so whichever survives pruning still
    # trips assert_true first, raising a typed message instead of ANSI
    # DIVIDE_BY_ZERO or silent NULL/NaN. (Threading through T alone
    # would let `.select("raw_ppm")` prune T — and the guard with it —
    # while raw_ppm divides by R.)
    nonzero = F.assert_true(
        (F.col("T") > 0) & (F.col("R") > 0),
        F.lit(
            "contrastive_score: degenerate corpus — zero target or"
            " zero raw n-grams (T or R == 0)"
        ),
    )
    totals = counts.agg(
        F.sum("tc").cast("long").alias("T"),
        F.sum("rc").cast("long").alias("R"),
    ).select(
        F.when(nonzero.isNull(), F.col("T")).alias("T"),
        F.when(nonzero.isNull(), F.col("R")).alias("R"),
    )
    per_doc = (
        toks.join(counts, "g")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum("tc").cast("long").alias("st"),
            F.sum("rc").cast("long").alias("sr"),
        )
    )
    return per_doc.crossJoin(F.broadcast(totals)).select(
        F.col("id").alias(id_col),
        "n_grams",
        F.round(
            F.col("st") * F.lit(1_000_000.0)
            / (F.col("T").cast("double") * F.col("n_grams").cast("double")),
            6,
        ).alias("target_ppm"),
        F.round(
            F.col("sr") * F.lit(1_000_000.0)
            / (F.col("R").cast("double") * F.col("n_grams").cast("double")),
            6,
        ).alias("raw_ppm"),
        F.round(
            F.lit(1000.0)
            * (F.col("st") + 1).cast("double")
            * (F.col("R") + 1).cast("double")
            / (
                (F.col("sr") + 1).cast("double")
                * (F.col("T") + 1).cast("double")
            ),
            6,
        ).alias("lift_milli"),
    )


def _lm_score_from_tokens(
    toks: DataFrame, id_col: str, vocab_size: int
) -> DataFrame:
    """Shared LM-score tail: (id, tok) stream → per-doc OOV/probability
    table. One wordcount shuffle, TakeOrderedAndProject vocabulary
    broadcast back onto the token stream, one per-doc aggregation, total
    N as an in-plan broadcast single-row cross join (no collect) — the
    plan documented on unigram_lm_score."""
    counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    vocab = counts.orderBy(F.desc("c"), F.asc("tok")).limit(vocab_size)
    total = counts.agg(F.sum("c").alias("N"))
    scored = toks.join(F.broadcast(vocab), "tok", "left")
    per_doc = scored.groupBy("id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("c").isNull(), 1).otherwise(0)).alias("n_oov"),
        F.sum(F.coalesce("c", F.lit(0))).alias("sum_c"),
    )
    return (
        per_doc.crossJoin(F.broadcast(total))
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            "n_oov",
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"),
                6,
            ).alias("oov_rate"),
            F.round(
                F.col("sum_c").cast("double")
                * F.lit(1000000.0)
                / (F.col("N") * F.col("n_tokens")).cast("double"),
                6,
            ).alias("mean_prob_ppm"),
        )
    )


def tf_idf(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF
    (sklearn-style: ``tf · (ln((N+1)/(df+1)) + 1)``).

    Plan shape, 100 TB-safe: tokens explode map-side (tokenization staged,
    split once per doc); term frequency is one partial-agg shuffle on
    (doc, term); document frequency one on (term). The df table joins back
    on term — a shuffle-hash join co-partitioned on the SAME key its
    groupBy just produced, so no extra exchange on the big side (the term
    dictionary is corpus-sized: never broadcast/collected). Scalar N rides
    a broadcast of a 1-row aggregate. Ranking is a per-doc window on the
    (doc, term) table — keyed on the tf groupBy's own partitioning.

    Scores are ranked AFTER rounding (6 dp) with a term-lexicographic
    tiebreak, so the top-k set is deterministic across runs and engines.
    """
    from pyspark.sql import Window

    toked = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_toks")
    )
    terms = toked.select(
        "id", F.explode(F.col("_toks")).alias("t")
    ).select("id", F.lower("t").alias("term"))
    tf = terms.groupBy("id", "term").agg(F.count("*").alias("tf"))
    # document frequency derives FROM the tf aggregate — its rows are
    # exactly the distinct (doc, term) pairs, so this reuses the tf
    # shuffle (ReuseExchange) instead of paying a separate distinct
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    n_docs = df.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf").cast("double")
                * (
                    F.log(
                        (F.col("n_docs") + F.lit(1)).cast("double")
                        / (F.col("df_t") + F.lit(1)).cast("double")
                    )
                    + F.lit(1.0)
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank_n", F.row_number().over(w))
        .filter(F.col("rank_n") <= top_k)
        .select(F.col("id").alias(id_col), "term", "score", "rank_n")
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key_cols: list[str],
    default_rate: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic hash sampling: each stratum keeps its own
    rate (corpus rebalancing — upsample rare sources, downsample the crawl
    monoculture). Same engine-portable md5-threshold core as
    :func:`deterministic_sample`, with the threshold chosen by a CASE
    chain on the stratum column — still a pure map-side filter (no
    shuffle, no RNG, no per-stratum jobs), still exactly re-derivable by
    any md5-capable engine. Strata not named in `rates` get
    `default_rate` (0.0 = drop)."""
    for s, r in {**rates, "<default>": default_rate}.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {s!r} must be in [0, 1], got {r}")

    thr = None
    for s in sorted(rates):
        cond = F.col(strata_col) == s
        lit = F.lit(_hex_thr(rates[s]))
        thr = F.when(cond, lit) if thr is None else thr.when(cond, lit)
    default_lit = F.lit(_hex_thr(default_rate))
    thr = default_lit if thr is None else thr.otherwise(default_lit)
    key = F.concat_ws(
        ":", F.lit(salt), *[F.col(c).cast("string") for c in key_cols]
    )
    return df.filter(F.substring(F.md5(key), 1, 8) < thr)


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Intra-document repetition signal (the C4/Gopher-style filter:
    machine-generated and template text repeats itself): per document, the
    total vs distinct n-gram counts and the duplicated-n-gram ratio
    (1 − distinct/total; 0 for docs too short to have an n-gram).

    Pure map-side — one staged tokenization, one gram build, two size()
    reductions; no shuffle, no explode. Filter on dup_ngram_ratio > ~0.2
    to drop looping/boilerplate generations before training."""
    # grams staged as their own column — size() and array_distinct()
    # would otherwise each re-run the zip_with gram build per row
    toked = df.withColumn(
        "_toks", tokens(F.col(text_col))
    ).withColumn("_grams", ngrams_from_tokens(F.col("_toks"), n))
    out = toked.withColumn("n_ngrams", F.size("_grams")).withColumn(
        "n_distinct", F.size(F.array_distinct(F.col("_grams")))
    )
    ratio = F.when(F.col("n_ngrams") > 0,
                   F.round(1.0 - F.col("n_distinct")
                           / F.col("n_ngrams").cast("double"), 6)
                   ).otherwise(F.lit(0.0))
    return out.withColumn("dup_ngram_ratio", ratio).drop("_toks", "_grams")


def ngram_repetition_suite(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """The FULL Gopher repetition suite (Rae et al. 2021 Table A1 —
    :func:`repetition_stats` and :func:`line_repetition_stats` cover two
    of its twelve signals; this adds the other family): per document,

    - ``top{n}_char_frac`` (n in ``top_ns``): characters covered by ALL
      occurrences of the single most frequent n-gram, over total
      characters — ties broken to the lexicographically smallest gram;
    - ``dup{n}_char_frac`` (n in ``dup_ns``): characters covered by
      occurrences of every n-gram that appears more than once —
      OCCURRENCE-COUNTING, a cheap O(T) proxy: overlapping coverage is
      summed, so values may exceed 1 and sit above the paper's numbers
      on repetitive docs. The PAPER-EXACT positional-union formula
      (each char counted once, values in [0, 1]) is
      :func:`ngram_dup_union_fractions`; calibrate thresholds from Rae
      et al. Table A1 against THAT, and use this one for cheap
      pre-filters thresholded well below the divergence.

    Character counts use the single-space-joined token stream (the
    canonical text both engines reconstruct identically); fractions are
    0.0 for docs too short to have an n-gram. Entirely map-side: one
    staged tokenization, then sorted-array run-length encoding per n —
    no explode, no shuffle, scales as a projection over the corpus.

    Every intermediate (sorted grams, run starts, runs) is staged as
    its OWN projected column: nesting them as one expression duplicates
    each subtree at every reference, and with nine n values the
    unresolved tree grows multiplicatively until Catalyst analysis
    dominates the query (the _toks_sql staging rationale, compounded).
    The ~30-stage step list is cached process-wide per parameter tuple
    (:data:`_PLAN_CACHE` — measured ~1.3 s of py4j tree building per
    call)."""
    ckey = ("ngram_repetition_suite", text_col, tuple(top_ns),
            tuple(dup_ns))
    cached = _PLAN_CACHE.get(ckey)
    if cached is not None:
        steps, tmp = cached
        out = df
        for name, expr in steps:
            out = out.withColumn(name, expr)
        return out.drop(*tmp)
    steps: list = []
    steps.append(("_toks", tokens(F.col(text_col))))
    steps.append(("_total", F.length(F.array_join(F.col("_toks"), " "))))
    total = F.col("_total")
    tmp = ["_toks", "_total"]

    def stage_runs(n: int) -> str:
        srt_c, sta_c, run_c = f"_srt{n}", f"_sta{n}", f"_runs{n}"
        tmp.extend([srt_c, sta_c, run_c])
        steps.append(
            (srt_c, F.array_sort(ngrams_from_tokens(F.col("_toks"), n)))
        )
        srt = F.col(srt_c)
        sz = F.size(srt)
        steps.append((
            sta_c,
            F.when(
                sz > 0,
                F.filter(
                    F.sequence(F.lit(0), sz - F.lit(1)),
                    # ANSI mode: element_at(col, 0) errors — the i == 0
                    # arm must be a lazy If branch
                    lambda i: F.when(i == 0, F.lit(True)).otherwise(
                        F.element_at(srt, i + 1) != F.element_at(srt, i)
                    ),
                ),
            ).otherwise(F.array().cast("array<int>")),
        ))
        starts = F.col(sta_c)
        nst = F.size(starts)
        steps.append((
            run_c,
            F.transform(
                starts,
                lambda s, j: F.struct(
                    (
                        F.when(
                            j + 2 <= nst, F.element_at(starts, j + 2)
                        ).otherwise(sz)
                        - s
                    ).cast("int").alias("cnt"),
                    F.element_at(srt, s + 1).alias("gram"),
                ),
            ),
        ))
        return run_c

    for n in top_ns:
        rc = stage_runs(n)
        best_c = f"_best{n}"
        tmp.append(best_c)
        steps.append((
            best_c,
            F.array_min(
                F.transform(
                    F.col(rc),
                    lambda r: F.struct(
                        (-r["cnt"]).alias("nc"), r["gram"].alias("gram")
                    ),
                )
            ),
        ))
        best = F.col(best_c)
        chars = (-best["nc"]).cast("long") * F.length(best["gram"])
        steps.append((
            f"top{n}_char_frac",
            F.when(
                (F.size(F.col(rc)) > 0) & (total > 0),
                F.round(chars / total.cast("double"), 6),
            ).otherwise(F.lit(0.0)),
        ))
    for n in dup_ns:
        rc = stage_runs(n)
        covered = F.aggregate(
            F.col(rc),
            F.lit(0).cast("long"),
            lambda acc, r: acc
            + F.when(
                r["cnt"] >= 2,
                r["cnt"].cast("long") * F.length(r["gram"]).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )
        steps.append((
            f"dup{n}_char_frac",
            F.when(
                total > 0, F.round(covered / total.cast("double"), 6)
            ).otherwise(F.lit(0.0)),
        ))
    _PLAN_CACHE[ckey] = (steps, tmp)
    out = df
    for name, expr in steps:
        out = out.withColumn(name, expr)
    return out.drop(*tmp)


def ngram_dup_union_fractions(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dup_ns: tuple = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """The PAPER-EXACT Gopher duplicated-n-gram character fractions
    (Rae et al. 2021 Table A1): per document and per n,
    ``dup{n}_union_frac`` = the fraction of characters of the
    single-space-joined token stream lying inside AT LEAST ONE
    occurrence of an n-gram that appears more than once — a positional
    UNION, each character counted at most once, so values are in
    [0, 1]. :func:`ngram_repetition_suite`'s ``dup{n}_char_frac`` is
    the cheap occurrence-counting proxy (overlapping coverage summed,
    can exceed 1); this is the published formula.

    Entirely map-side, O(n·T) per document per n: one staged
    tokenization; per n a sorted pass extracts the duplicated-gram set
    into a lookup MAP (O(1) per-occurrence membership via
    try_element_at, never an array scan), each occurrence start is
    flagged, and one fold over token positions ORs a BOUNDED (≤ n)
    sliding window of flags to decide whether the token (and the space
    after it) is covered. No explode, no shuffle — a projection over
    the corpus, like the proxy suite. Each intermediate is staged as
    its own projected column (the x28 analysis-blowup rationale). The
    step list is cached process-wide per parameter tuple
    (:data:`_PLAN_CACHE` — ~1.2 s of py4j tree building per call)."""
    ckey = ("ngram_dup_union_fractions", text_col, tuple(dup_ns))
    cached = _PLAN_CACHE.get(ckey)
    if cached is not None:
        steps, tmp = cached
        out = df
        for name, expr in steps:
            out = out.withColumn(name, expr)
        return out.drop(*tmp)
    steps: list = []
    steps.append(("_toks", tokens(F.col(text_col))))
    steps.append(("_total", F.length(F.array_join(F.col("_toks"), " "))))
    toks = F.col("_toks")
    total = F.col("_total")
    sz = F.size(toks)
    tmp = ["_toks", "_total"]

    for n in dup_ns:
        g_c, s_c, m_c, f_c = f"_g{n}", f"_s{n}", f"_m{n}", f"_f{n}"
        tmp.extend([g_c, s_c, m_c, f_c])
        steps.append((g_c, ngrams_from_tokens(toks, n)))
        steps.append((s_c, F.array_sort(F.col(g_c))))
        srt = F.col(s_c)
        gsz = F.size(srt)
        # duplicated grams = adjacent equals in the sorted stream
        dups = F.when(
            gsz >= 2,
            F.array_distinct(
                F.filter(
                    F.zip_with(
                        F.slice(srt, 1, gsz - 1),
                        F.slice(srt, 2, gsz - 1),
                        lambda a, b: F.when(a == b, a),
                    ),
                    lambda x: x.isNotNull(),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))
        steps.append((
            m_c,
            F.map_from_arrays(
                dups, F.array_repeat(F.lit(True), F.size(dups))
            ),
        ))
        steps.append((
            f_c,
            F.transform(
                F.col(g_c),
                lambda g: F.coalesce(
                    F.try_element_at(F.col(m_c), g), F.lit(False)
                ),
            ),
        ))
        flags = F.col(f_c)
        last = sz - n  # last occurrence start index (0-based)

        def make_step(n, flags, last):
            # closure FACTORY, not default args: pyspark's HOF bridge
            # counts every parameter of the lambda's signature
            def win_exists(lo, hi):
                return F.exists(
                    F.slice(flags, lo + 1, hi - lo + 1), lambda x: x
                )

            def step(acc, t):
                tok_cov = win_exists(
                    F.greatest(t - (n - 1), F.lit(0)), F.least(t, last)
                )
                sp_cov = (t < sz - 1) & win_exists(
                    F.greatest(t - (n - 2), F.lit(0)), F.least(t, last)
                )
                return (
                    acc
                    + F.when(
                        tok_cov,
                        F.length(F.element_at(toks, t + 1)).cast("long"),
                    ).otherwise(F.lit(0).cast("long"))
                    + F.when(sp_cov, F.lit(1).cast("long")).otherwise(
                        F.lit(0).cast("long")
                    )
                )

            return step

        covered = F.aggregate(
            F.sequence(F.lit(0), sz - 1), F.lit(0).cast("long"),
            make_step(n, flags, last),
        )
        steps.append((
            f"dup{n}_union_frac",
            F.when(
                (sz >= n) & (total > 0),
                F.round(covered / total.cast("double"), 6),
            ).otherwise(F.lit(0.0)),
        ))
    _PLAN_CACHE[ckey] = (steps, tmp)
    out = df
    for name, expr in steps:
        out = out.withColumn(name, expr)
    return out.drop(*tmp)


def line_repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_tokens: int = 8,
) -> DataFrame:
    """Intra-document duplicate-LINE signal — the other half of the
    Gopher repetition suite (Rae et al. 2021 Table A1: "duplicate line
    fraction" and "duplicate line character fraction"; the n-gram half
    is :func:`repetition_stats`). Documents split into fixed-width
    token lines (the :func:`line_dedup` line notion — corpus text may
    carry no newlines); per document:

      n_lines, n_distinct_lines,
      dup_line_ratio      = 1 − distinct/total,
      dup_line_char_ratio = chars in lines occurring >1× (ALL
                            occurrences) / total line chars

    Template/looping generations repeat whole lines; filter on either
    ratio. Docs with no tokens drop (no lines — no signal).

    Scale shape: explode to (id, line) → one (id, line) groupBy with
    map-side partial aggregation (a duplicated line combines before the
    shuffle — the hot-doc case shrinks, not grows), then one id-keyed
    groupBy. Both aggregates move only counts and lengths, never the
    reassembled text; no join, no window. The divisions are exact
    integers in, one correctly-rounded IEEE-754 op each, so ratios are
    bit-identical across engines."""
    if line_tokens < 1:
        raise ValueError(f"line_tokens must be >= 1, got {line_tokens}")
    L = line_tokens
    toks = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("tk")
    ).filter(F.size("tk") > 0)
    n_lines = F.ceil(F.size("tk") / F.lit(float(L))).cast("int")
    lines = toks.select(
        "id",
        F.explode(F.sequence(F.lit(0), n_lines - 1)).alias("line_no"),
        "tk",
    ).select(
        "id",
        F.array_join(
            F.slice("tk", F.col("line_no") * L + 1, F.lit(L)), " "
        ).alias("line"),
    )
    per_line = lines.groupBy("id", "line").agg(
        F.count("*").alias("cnt"),
        F.first(F.length("line")).alias("len"),
    )
    agg = per_line.groupBy("id").agg(
        F.sum("cnt").cast("long").alias("n_lines"),
        F.count("*").cast("long").alias("n_distinct_lines"),
        F.sum(F.col("cnt") * F.col("len")).cast("long").alias("_chars"),
        F.sum(
            F.when(F.col("cnt") > 1, F.col("cnt") * F.col("len"))
            .otherwise(F.lit(0))
        ).cast("long").alias("_dup_chars"),
    )
    return agg.select(
        F.col("id").alias(id_col),
        "n_lines",
        "n_distinct_lines",
        F.round(
            1.0
            - F.col("n_distinct_lines").cast("double")
            / F.col("n_lines").cast("double"),
            6,
        ).alias("dup_line_ratio"),
        F.round(
            F.col("_dup_chars").cast("double")
            / F.col("_chars").cast("double"),
            6,
        ).alias("dup_line_char_ratio"),
    )


def perplexity_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    n_buckets: int = 3,
    vocab_size: int = 1000,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3: score
    each document with a cheap LM, split each group — CCNet uses the
    language, here ``group_col`` — into equal head/middle/tail thirds
    by score; training mixes then sample by bucket). The scorer is
    :func:`unigram_lm_score` (integer-exact, ln()-free, so bucket
    boundaries are bit-identical across engines); HEAD is the
    highest-probability (lowest-perplexity) third.

    Output: (id, group, n_tokens, mean_prob_ppm, bucket_no, bucket)
    where bucket_no is the 1-based NTILE and bucket ∈ head/middle/tail
    (NULL for n_buckets ≠ 3 beyond the ends' names). Token-less docs
    drop (no score — CCNet drops them too). Ordering inside a group is
    (mean_prob_ppm DESC, id) — fully deterministic.

    Scale shape: the scorer's plan (one wordcount shuffle, broadcast
    vocabulary, one per-doc aggregation), a broadcast join back to the
    (id, group) pairs, then ONE window sort per group — NTILE is a
    streaming window (no frame buffering), so the cost is a shuffle on
    ``group_col`` plus a per-partition sort. A group is a language or
    domain — thousands of groups, so the sort parallelizes; a single
    giant group degrades to a single-partition sort, which is the
    operator's honest lower bound (global ranks need a global order —
    CCNet itself sorts per language)."""
    from pyspark.sql import Window

    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    scored = unigram_lm_score(
        df, id_col=id_col, text_col=text_col, vocab_size=vocab_size
    ).select(id_col, "n_tokens", "mean_prob_ppm")
    groups = df.select(F.col(id_col), F.col(group_col))
    joined = scored.join(groups, id_col)
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.desc("mean_prob_ppm"), F.col(id_col))
    )
    out = joined.withColumn(
        "bucket_no", F.ntile(n_buckets).over(w).cast("long")
    )
    name = (
        F.when(F.col("bucket_no") == 1, "head")
        .when(F.col("bucket_no") == n_buckets, "tail")
        .when(F.lit(n_buckets) == 3, "middle")
    )
    return out.select(
        id_col, group_col, "n_tokens", "mean_prob_ppm",
        "bucket_no", name.alias("bucket"),
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 20,
    max_tokens: int = 100_000,
    min_mean_token_len: float = 3.0,
    max_mean_token_len: float = 10.0,
    min_alpha_ratio: float = 0.8,
    min_stop_hits: int = 2,
    max_symbol_ratio: float = 0.1,
) -> DataFrame:
    """Gopher-style composite document-quality filter (rules after Rae et
    al. 2021 "Scaling Language Models", Table A1 — the public heuristic
    suite used to clean MassiveText): token-count band, mean-token-length
    band, alphabetic-word ratio, minimum stopword evidence, and a
    symbol-to-word ratio over '#' and '...' artifacts.

    Adds the per-rule signals, ``keep`` (1/0), and ``fail_reason`` (the
    FIRST failing rule in the documented order, NULL when kept) so a
    curation pipeline can both filter and audit per-rule loss rates.
    Entirely Catalyst expressions over a single staged tokenization —
    map-side, codegen'd, no shuffle: at 100 TB this is a pure scan that
    pushes through to the parquet reader. The rule expressions are
    cached process-wide per parameter tuple (:data:`_PLAN_CACHE`)."""
    ckey = (
        "quality_filter", text_col, min_tokens, max_tokens,
        min_mean_token_len, max_mean_token_len, min_alpha_ratio,
        min_stop_hits, max_symbol_ratio,
    )
    cached = _PLAN_CACHE.get(ckey)
    if cached is not None:
        return _quality_apply(df, *cached)
    c = F.col(text_col)
    toks = tokens(c)
    tk = F.col("_toks")
    n_tokens = F.size(tk)
    safe_tokens = F.greatest(n_tokens, F.lit(1)).cast("double")
    n_space = F.length(c) - F.length(F.regexp_replace(c, "\\s", ""))
    mean_token_len = F.round((F.length(c) - n_space) / safe_tokens, 4)
    alpha_ratio = F.round(
        F.size(F.filter(tk, lambda t: t.rlike("[A-Za-z]"))) / safe_tokens, 4
    )
    stop_hits = F.size(
        F.filter(tk, lambda t: F.lower(t).isin(STOPWORDS_EN))
    ).cast("long")
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))
    ) / 3
    symbol_ratio = F.round((n_hash + n_ellipsis) / safe_tokens, 4)
    fail = (
        F.when(F.col("n_tokens") < min_tokens, "too_short")
        .when(F.col("n_tokens") > max_tokens, "too_long")
        .when(F.col("mean_token_len") < min_mean_token_len, "short_tokens")
        .when(F.col("mean_token_len") > max_mean_token_len, "long_tokens")
        .when(F.col("alpha_ratio") < min_alpha_ratio, "non_alpha")
        .when(F.col("stop_hits") < min_stop_hits, "no_stopwords")
        .when(F.col("symbol_ratio") > max_symbol_ratio, "symbol_heavy")
    )
    keep = F.when(fail.isNull(), 1).otherwise(0)
    cached = (
        toks,
        [
            ("n_tokens", n_tokens),
            ("mean_token_len", mean_token_len),
            ("alpha_ratio", alpha_ratio), ("stop_hits", stop_hits),
            ("symbol_ratio", symbol_ratio),
        ],
        [("fail_reason", fail), ("keep", keep)],
    )
    _PLAN_CACHE[ckey] = cached
    return _quality_apply(df, *cached)


def _quality_apply(df, toks, signals, verdicts) -> DataFrame:
    """Apply quality_filter's cached expression levels in THREE
    analysis passes instead of nine (r14-opt §1: withColumn/drop each
    re-analyze the whole accumulated tree eagerly): stage ``_toks``,
    project all signals while folding the ``_toks`` drop into the same
    select, then add the verdict columns (which reference the signal
    COLUMNS) in one withColumns."""
    out = df.withColumn("_toks", toks)
    new_names = {name for name, _ in signals}
    keep_cols = [
        c for c in out.columns if c != "_toks" and c not in new_names
    ]
    out = out.select(
        *keep_cols, *[expr.alias(name) for name, expr in signals]
    )
    return out.withColumns(dict(verdicts))


#: Characters whose UTF-8 bytes, mis-read as Windows-1252 and
#: re-encoded, produce the classic mojibake digraphs ("é" → "Ã©",
#: "’" → "â€™"). The Latin-1 accents + the cp1252 punctuation block; a
#: target char is skipped when its mojibake form would need one of the
#: five bytes cp1252 leaves undefined (0x81 8D 8F 90 9D — e.g. "”"),
#: since that corruption cannot arise from a strict cp1252 decode.
MOJIBAKE_REPERTOIRE = (
    "àáâãäåæçèéêëìíîïðñòóôõöøùúûüýþÿ"
    "ÀÁÂÃÄÅÆÇÈÉÊËÌÍÎÏÐÑÒÓÔÕÖØÙÚÛÜÝÞ"
    "€‚ƒ„…†‡ˆ‰Š‹ŒŽ‘’“•–—˜™š›œž"
    "¡¢£¤¥¦§¨©ª«¬®¯°±²³´µ¶·¸¹º»¼½¾¿×÷ß"
)


def mojibake_table() -> list[tuple[str, str]]:
    """[(mojibake_form, char)] for the pinned repertoire, LONGEST form
    first (3-byte UTF-8 chars produce 3-char digraphs that embed the
    2-char ones — the replace chain must consume them first). Pure
    derivation: form = char.encode('utf-8').decode('cp1252')."""
    pairs = []
    for c in MOJIBAKE_REPERTOIRE:
        try:
            m = c.encode("utf-8").decode("cp1252")
        except UnicodeDecodeError:
            continue  # needs a cp1252-undefined byte: unreachable form
        pairs.append((m, c))
    return sorted(pairs, key=lambda p: (-len(p[0]), p[0]))


def fix_mojibake(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "fixed",
) -> DataFrame:
    """Repair cp1252/UTF-8 DOUBLE-ENCODING mojibake — the single most
    common encoding corruption in web crawls ("Café" stored as
    "CafÃ©"): a deterministic replace chain over the pinned digraph
    table (:func:`mojibake_table`), longest forms first so "â€™"
    resolves before its embedded 2-char forms. Adds ``out_col`` (the
    repaired text), ``chars_recovered`` (length shrink — every repaired
    digraph collapses ≥2 chars to 1) and ``had_mojibake``.

    Entirely Catalyst ``replace`` expressions — map-side, JVM-string
    ops, no UDF, no shuffle: at 100 TB this composes into the x29/x31
    intake scan like quality_filter does. The chain is idempotent on
    clean text: repaired output contains none of the forms. The
    ~120-node replace chain is cached process-wide per column-name
    pair (:data:`_PLAN_CACHE`)."""
    ckey = ("fix_mojibake", text_col, out_col)
    steps = _PLAN_CACHE.get(ckey)
    if steps is None:
        src = F.col(text_col)
        fixed = src
        for m, c in mojibake_table():
            fixed = F.replace(fixed, F.lit(m), F.lit(c))
        steps = [
            (out_col, fixed),
            (
                "chars_recovered",
                (F.length(src) - F.length(F.col(out_col))).cast("long"),
            ),
            ("had_mojibake", F.col(out_col) != src),
        ]
        _PLAN_CACHE[ckey] = steps
    # two analysis passes, not three: chars_recovered/had_mojibake both
    # reference only out_col (r14-opt §1)
    out = df.withColumn(steps[0][0], steps[0][1])
    return out.withColumns(dict(steps[1:]))


# map-side PII patterns: kept to syntax valid in BOTH Java regex (Spark)
# and RE2 (DuckDB/oracle) so the redaction is engine-reproducible
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE_RE = "\\+\\d{2} \\d{2} \\d{4} \\d{4}"


def pii_redact(
    df: DataFrame,
    text_col: str = "text",
    email_token: str = "<EMAIL>",
    phone_token: str = "<PHONE>",
) -> DataFrame:
    """PII scrub for training corpora (C4/RefinedWeb-style cleaning):
    replace email addresses and international-format phone numbers with
    redaction tokens, and report per-document match counts for audit.

    Pure map-side Catalyst (regexp_replace / regexp_extract_all) — no
    shuffle, codegen'd, pushes through the scan at 100 TB. Patterns are
    deliberately portable (Java regex ∩ RE2); real deployments extend the
    pattern list (SSNs, IPs, street addresses) the same way."""
    t = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(t, PII_EMAIL_RE, email_token),
        PII_PHONE_RE,
        phone_token,
    )
    return (
        df.withColumn(
            "n_emails",
            F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL_RE), F.lit(0))),
        )
        .withColumn(
            "n_phones",
            F.size(F.regexp_extract_all(t, F.lit(PII_PHONE_RE), F.lit(0))),
        )
        .withColumn(text_col, redacted)
    )


def sequence_pack_plan(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_len: int = 1024,
    range_partitions: int = 32,
) -> DataFrame:
    """Concat-and-chunk sequence-packing LAYOUT (GPT-style training prep:
    documents concatenated in id order, the token stream split into fixed
    ``seq_len`` windows): per document, its global token offset in the
    concatenated stream and the chunk span it occupies. Output
    (id, n_tokens, offset, chunk_start, chunk_end) — the plan a packing
    writer materializes. Token-less docs drop (nothing to pack).

    Scale shape — a GLOBAL running sum without the single-partition global
    window anti-pattern: the classic two-phase parallel prefix scan.
    Range-repartition on id (so partitions tile the global order), compute
    the running sum WITHIN each range (partition-local window — parallel),
    collect only the P per-range subtotals to the driver (control plane:
    P integers, not data — same pattern as k-means' centroids), and add
    each range's driver-computed prefix back as a literal map lookup. The
    result is independent of where the range boundaries fall, so the
    sampling-based partitioner never affects values — only parallelism."""
    toks = (
        df.select(
            F.col(id_col).alias("id"),
            F.size(tokens(text_col)).cast("long").alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
    )
    ranged = toks.repartitionByRange(range_partitions, "id")
    from pyspark.sql import Window

    local = ranged.withColumn("_pid", F.spark_partition_id())
    w_local = (
        Window.partitionBy("_pid")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = local.withColumn(
        "_local_off", F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
    )
    # persist pins the range partitioning: the subtotal collect and the
    # final select are separate jobs, and an unpinned plan would re-run
    # the sampling-based range partitioner per job — the per-pid prefixes
    # must describe the SAME physical partitions the final pass reads.
    # Registered with dedup's cache registry (release_cached reclaims).
    from .dedup import _persist

    local = _persist(local)
    subtotals = sorted(
        (r["_pid"], r["s"])
        for r in local.groupBy("_pid")
        .agg(F.sum("n_tokens").alias("s"))
        .collect()
    )
    prefix: dict[int, int] = {}
    acc = 0
    for pid, s in subtotals:
        prefix[pid] = acc
        acc += s
    if prefix:
        entries = []
        for pid, off in prefix.items():
            entries.extend([F.lit(pid), F.lit(off)])
        prefix_expr = F.coalesce(
            F.element_at(F.create_map(*entries), F.col("_pid")),
            F.lit(0),
        )
    else:
        prefix_expr = F.lit(0)
    offset = (F.col("_local_off") + prefix_expr).alias("offset")
    out = local.select("id", "n_tokens", offset).select(
        "id",
        "n_tokens",
        "offset",
        F.expr(f"offset div {seq_len}").alias("chunk_start"),
        F.expr(f"(offset + n_tokens - 1) div {seq_len}").alias("chunk_end"),
    )
    return out.withColumnRenamed("id", id_col)


def bpe_pair_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 100,
) -> DataFrame:
    """Adjacent-token-pair frequencies — the inner counting step of BPE /
    WordPiece tokenizer TRAINING (the merge rule is argmax of exactly this
    table), run corpus-wide as one Catalyst plan: tokenize map-side, pair
    adjacent tokens with a zip of two shifted slices (no self-join), one
    explode, one map-side-combinable groupBy, top-N via
    TakeOrderedAndProject. Output (pair, n_pairs) ordered by count desc
    then pair — deterministic under ties.

    At 100 TB this is the scalable formulation: the shuffle carries only
    (pair, partial count) after map-side combine, and the top-N never
    sorts the full pair table. Iterated BPE training re-runs it on the
    merged corpus per round; each round is the same single-shuffle plan."""
    tk = (
        df.select(tokens(text_col).alias("tk"))
        .filter(F.size("tk") >= 2)
    )
    pairs = tk.select(
        F.explode(
            F.zip_with(
                F.slice("tk", 1, F.size("tk") - 1),
                F.slice("tk", 2, F.size("tk") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(F.count("*").alias("n_pairs"))
    return counted.orderBy(
        F.col("n_pairs").desc(), F.col("pair")
    ).limit(top_n)


def epoch_order_key(
    epoch: int,
    id_col: str = "doc_id",
    salt: str = "",
) -> Column:
    """Deterministic per-epoch shuffle KEY: md5(salt:epoch:id) prefix.
    Ordering a corpus by this key is a reproducible pseudo-random
    permutation that changes every epoch — the data-loading shuffle an
    LLM training run needs, WITHOUT an RNG or a global rank: at 100 TB
    you never materialize row numbers, you range-partition the WRITE on
    this key (:func:`..sources.sinks.write_sorted_parquet`), and readers
    consume files in key order. Engine-agnostic (md5), so the exact epoch
    order is re-derivable by any auditing system."""
    return F.substring(
        F.md5(
            F.concat_ws(
                ":", F.lit(salt), F.lit(str(int(epoch))),
                F.col(id_col).cast("string"),
            )
        ),
        1,
        16,
    )


def token_budget_sample(
    df: DataFrame,
    weights: dict[str, float],
    total_tokens: int,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Domain-MIXTURE sampling to a TOKEN budget — the data-mixing step of
    a training-data pipeline: given target mixture ``weights`` per source
    and a global ``total_tokens`` budget, keep each source's documents at
    the deterministic rate that lands its share of the budget,
    ``rate_s = min(1, weight_s·B / available_s)`` (a source with fewer
    tokens than its target is taken whole — the standard up-capped
    epoch-0 behavior; callers repeat epochs for true oversampling).

    Shape: ONE availability aggregation (S rows collected — control
    plane), then a MAP-SIDE filter using the same engine-agnostic
    md5-threshold machinery as :func:`deterministic_sample`, with the
    per-source threshold compiled into a CASE chain. No shuffle on the
    kept path; sources absent from ``weights`` are dropped. Sampling is a
    pure function of (salt, source, id): reproducible across runs,
    engines, and cluster sizes, and re-derivable by a warehouse audit
    query. Returns (id, source, n_tokens) for the kept documents.
    """
    if total_tokens <= 0:
        raise ValueError("total_tokens must be positive")
    wsum = float(sum(weights.values()))
    if wsum <= 0:
        raise ValueError("weights must sum to a positive value")
    avail = {
        r["s"]: int(r["toks"])
        for r in df.groupBy(F.col(source_col).alias("s"))
        .agg(F.sum(token_count(text_col)).alias("toks"))
        .collect()
    }
    thr = None
    for s, w in sorted(weights.items()):
        if s not in avail or avail[s] <= 0:
            continue
        rate = min(1.0, (w / wsum) * total_tokens / avail[s])
        case = F.when(F.col(source_col) == s, F.lit(_hex_thr(rate)))
        thr = case if thr is None else thr.when(
            F.col(source_col) == s, F.lit(_hex_thr(rate))
        )
    if thr is None:
        return df.select(
            F.col(id_col), F.col(source_col),
            token_count(text_col).alias("n_tokens"),
        ).limit(0)
    key = F.concat_ws(
        ":", F.lit(salt), F.col(source_col), F.col(id_col).cast("string")
    )
    return (
        df.withColumn("_thr", thr)
        .filter(
            F.col("_thr").isNotNull()
            & (F.substring(F.md5(key), 1, 8) < F.col("_thr"))
        )
        .select(
            F.col(id_col), F.col(source_col),
            token_count(text_col).alias("n_tokens"),
        )
    )


def mixture_epochs(
    df: DataFrame,
    weights: dict[str, float],
    total_tokens: int,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """True-OVERSAMPLING mixture plan (r13) — the complement of
    :func:`token_budget_sample`'s up-capped epoch-0: the Pile/LLaMA
    recipe where a high-weight source SMALLER than its token target is
    repeated across epochs. Per weighted source,
    ``target_s = floor(B · w_s/Σw)``; every document gets
    ``floor(target_s / avail_s)`` FULL passes, and the remainder pass
    takes documents in deterministic md5 order until the leftover
    target is covered (the first document CROSSING the boundary is
    included — budget met, never undershot; the x22 prefix rule).
    ``n_copies`` is how many times the document appears in the mixed
    corpus (0 = not selected this mix). Σ(n_copies · n_tokens) per
    source lands in [target_s, target_s + max_doc) — the standard
    pack-then-truncate tolerance.

    Shape: ONE availability aggregation (S rows collected — control
    plane, like the BM25 stats rule), full/remainder targets compiled
    into literal CASE chains, then a single per-source window cumsum
    (one keyed shuffle) decides the remainder prefix. Deterministic
    across engines/cluster sizes; sources absent from ``weights`` are
    dropped. Returns (id, source, n_tokens, n_copies)."""
    if total_tokens <= 0:
        raise ValueError("total_tokens must be positive")
    wsum = float(sum(weights.values()))
    if wsum <= 0:
        raise ValueError("weights must sum to a positive value")
    from pyspark.sql import Window

    avail = {
        r["s"]: int(r["toks"])
        for r in df.groupBy(F.col(source_col).alias("s"))
        .agg(F.sum(token_count(text_col)).alias("toks"))
        .collect()
    }
    full_case = None
    rem_case = None
    keep = []
    for s, w in sorted(weights.items()):
        if s not in avail or avail[s] <= 0:
            continue
        target = int(total_tokens * (w / wsum))
        full = target // avail[s]
        rem = target - full * avail[s]
        keep.append(s)
        fc = F.when(F.col(source_col) == s, F.lit(full))
        rc = F.when(F.col(source_col) == s, F.lit(rem))
        full_case = fc if full_case is None else full_case.when(
            F.col(source_col) == s, F.lit(full)
        )
        rem_case = rc if rem_case is None else rem_case.when(
            F.col(source_col) == s, F.lit(rem)
        )
    base = df.select(
        F.col(id_col), F.col(source_col),
        token_count(text_col).alias("n_tokens"),
    )
    if not keep:
        return base.withColumn("n_copies", F.lit(0)).limit(0)
    base = base.filter(F.col(source_col).isin(*keep))
    ordk = F.md5(F.concat_ws(
        ":", F.lit(salt), F.col(source_col), F.col(id_col).cast("string")
    ))
    w_cum = (
        Window.partitionBy(source_col)
        .orderBy(ordk, F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        base.withColumn("_prev", F.coalesce(
            F.sum("n_tokens").over(w_cum), F.lit(0)
        ))
        .select(
            id_col, source_col, "n_tokens",
            (
                full_case
                + (F.col("_prev") < rem_case).cast("int")
            ).alias("n_copies"),
        )
    )


def select_for_training(
    df: DataFrame,
    target_value: str,
    weights: dict[str, float],
    total_tokens: int,
    lift_threshold_milli: float = 1000.0,
    epoch: int = 1,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    salt: str = "",
) -> DataFrame:
    """The end-to-end data-selection pipeline the pieces exist for —
    score, select to a budget, order for training, in one plan:

    1. :func:`contrastive_score` (DSIR-shaped importance): every doc
       scored against the target domain; the keep set is raw docs with
       ``lift_milli >= lift_threshold_milli`` (>= 1000 = more
       target-typical than raw-typical).
    2. :func:`token_budget_sample` over the keep set: the mixture
       ``weights`` share ``total_tokens`` — availability is computed on
       the POST-SELECTION pool (the budget applies to what survived
       selection, which is what a data-mixing run actually has).
    3. :func:`epoch_order_key`: the reproducible training permutation
       key attached to every kept row.

    Output: (id, source, n_tokens, lift_milli, epoch_key) — the
    manifest a training data-loader consumes. Scale shape: the score
    subplan is persisted (it feeds both the keep-filter join and the
    final score column — one gram pipeline, not two; release with
    ``dedup.release_cached()``), the selection join is id-keyed, the
    sample filter is map-side, and the epoch key is a pure expression:
    nothing here adds a shuffle beyond x24's own."""
    from .dedup import _persist

    scores = _persist(
        contrastive_score(
            df, target_value, source_col, n, id_col, text_col
        ).select(F.col(id_col).alias("_sid"), "lift_milli")
    )
    keep = (
        df.filter(F.col(source_col) != F.lit(target_value))
        .join(scores, F.col(id_col) == F.col("_sid"))
        .filter(F.col("lift_milli") >= F.lit(float(lift_threshold_milli)))
    )
    sampled = token_budget_sample(
        keep, weights, total_tokens, source_col, text_col, id_col, salt
    )
    return (
        sampled.join(scores, F.col(id_col) == F.col("_sid"))
        .select(
            F.col(id_col),
            F.col(source_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "lift_milli",
            epoch_order_key(epoch, id_col, salt).alias("epoch_key"),
        )
    )


def _apply_merge(col: Column, left: str, right: str) -> Column:
    """Apply ONE learned BPE merge to a symbol array — greedy leftmost
    non-overlapping, exactly the reference algorithm's replace semantics —
    as a pure Catalyst fold (no UDF): walk the symbols, and whenever the
    accumulated tail is `left` and the next symbol is `right`, replace the
    tail with the merged symbol."""
    merged = left + right
    return F.aggregate(
        col,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _bpe_train_driver(
    vocab_rows, n_merges: int, min_pair_count: int
) -> list[dict]:
    """In-memory Sennrich merge loop over the COLLECTED word-frequency
    table, with incremental pair-count maintenance (a pair→words index;
    each merge revisits only the words that contain the winning pair —
    the original learn_bpe trick). Merge sequence is IDENTICAL to the
    distributed loop: same greedy-leftmost apply, same count-desc then
    (left, right) lexicographic tie-break — Python's code-point string
    comparison matches Spark's binary UTF-8 collation because UTF-8 byte
    order preserves code-point order."""
    from collections import Counter, defaultdict

    words: list[list] = [
        [list(w) + ["</w>"], int(n)] for w, n in vocab_rows
    ]
    counts: Counter = Counter()
    index: dict = defaultdict(set)
    for i, (syms, n) in enumerate(words):
        for p in zip(syms, syms[1:]):
            counts[p] += n
            index[p].add(i)
    merges: list[dict] = []
    for rank in range(1, n_merges + 1):
        if not counts:
            break
        (left, right), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if c < min_pair_count:
            break
        merges.append(
            {"rank": rank, "left": left, "right": right,
             "pair_count": int(c)}
        )
        merged = left + right
        for i in list(index.get((left, right), ())):
            syms, n = words[i]
            old = Counter(zip(syms, syms[1:]))
            out: list = []
            j = 0
            while j < len(syms):
                if (
                    j + 1 < len(syms)
                    and syms[j] == left
                    and syms[j + 1] == right
                ):
                    out.append(merged)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            new = Counter(zip(out, out[1:]))
            words[i][0] = out
            for p in set(old) | set(new):
                d = new[p] - old[p]
                if d:
                    counts[p] += n * d
                    if counts[p] <= 0:
                        counts.pop(p, None)
                if new[p] > 0:
                    index[p].add(i)
                else:
                    index[p].discard(i)
        counts.pop((left, right), None)
        index.pop((left, right), None)
    return merges


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    min_pair_count: int = 2,
    vocab_partitions: int = 8,
    max_driver_vocab: int = 1_000_000,
) -> list[dict]:
    """LEARN a BPE merge table (Sennrich et al., ACL 2016 — the algorithm
    behind GPT-2/RoBERTa-style tokenizers): greedily merge the most
    frequent adjacent symbol pair, ``n_merges`` times. Returns the ordered
    merge list ``[{rank, left, right, pair_count}, ...]`` — driver-held
    model bytes, like the k-means centroids.

    The 100 TB shape is the original paper's own trick: BPE statistics
    live on the WORD-FREQUENCY table, not the corpus — so the corpus is
    shuffled ONCE (groupBy word), and every merge iteration runs on the
    vocabulary (orders of magnitude smaller): one map-side pair explode
    weighted by word count, one combinable agg for the arg-max pair, one
    map-side Catalyst fold (:func:`_apply_merge`, no UDF) rewriting the
    symbol arrays. ``localCheckpoint`` per round bounds the iterative
    lineage exactly like dedup.connected_components. Ties break
    deterministically (count desc, then pair lexicographic) so runs are
    reproducible and the differential pytest against a pure-Python
    reference trainer can demand EXACT merge-sequence equality.

    Words are whitespace tokens split to characters with a ``</w>``
    end-of-word marker (the classic formulation; merges never cross word
    boundaries). Stops early when no pair reaches ``min_pair_count``.

    HYBRID execution — the production-merge-count shape: the corpus
    shuffle (groupBy word) always runs distributed; the merge LOOP is
    control-plane work over the word-frequency table, so when the vocab
    fits the driver (``max_driver_vocab`` rows — a bounded
    ``limit(N+1)`` probe, never an unbounded collect) the loop runs
    in-memory via :func:`_bpe_train_driver` with incremental pair
    maintenance: 32k merges cost ONE Spark job total instead of ~2 jobs
    per merge (~64k scheduled jobs of pure scheduler overhead). The
    merge sequence is bit-identical either way (differential pytest at
    n_merges>=1000 against an independent pure-Python trainer, plus a
    driver-vs-distributed equality pin). A corpus whose vocabulary
    exceeds the bound (web-scale) falls back to the distributed loop
    below, which never materializes the vocab on the driver.
    ``max_driver_vocab=0`` forces the distributed loop.

    ``vocab_partitions`` sizes the distributed loop's parallelism: the
    vocabulary is orders of magnitude smaller than the corpus, and every
    merge round launches ~2 jobs over it — at the default shuffle width
    the per-task overhead of tiny tasks dominates the loop (measured
    ~2x on the bench corpus). Default 8 suits vocabularies up to the
    tens of millions of words; raise it for web-scale vocabularies.
    """
    vocab = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .repartition(vocab_partitions)
    )
    if max_driver_vocab:
        head = vocab.limit(max_driver_vocab + 1).collect()
        if len(head) <= max_driver_vocab:
            return _bpe_train_driver(
                [(r["w"], r["n"]) for r in head], n_merges, min_pair_count
            )
    cur = vocab.select(
        F.concat(
            F.filter(F.split("w", ""), lambda c: c != ""),
            F.array(F.lit("</w>")),
        ).alias("syms"),
        "n",
    ).localCheckpoint()

    merges: list[dict] = []
    for rank in range(1, n_merges + 1):
        pairs = (
            cur.filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.zip_with(
                        F.slice("syms", 1, F.size("syms") - 1),
                        F.slice("syms", 2, F.size("syms") - 1),
                        lambda a, b: F.struct(
                            a.alias("l"), b.alias("r")
                        ),
                    )
                ).alias("p"),
                "n",
            )
            .groupBy("p")
            .agg(F.sum("n").alias("c"))
        )
        top = (
            pairs.orderBy(
                F.col("c").desc(), F.col("p.l"), F.col("p.r")
            )
            .limit(1)
            .collect()
        )
        if not top or top[0]["c"] < min_pair_count:
            break
        left, right, count = top[0]["p"]["l"], top[0]["p"]["r"], int(top[0]["c"])
        merges.append(
            {"rank": rank, "left": left, "right": right, "pair_count": count}
        )
        cur = cur.select(
            _apply_merge(F.col("syms"), left, right).alias("syms"), "n"
        ).localCheckpoint()
    return merges


def bpe_segment(
    df: DataFrame,
    merges: list[dict],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """APPLY a learned merge table (:func:`bpe_train`) to a corpus:
    (id, token_count_bpe, n_words). Map-side only — the merges compile
    into a chain of Catalyst folds per word: no Python on the hot path,
    but the PLAN grows linearly with the table, so this path suits the
    tens-to-hundreds of merges a test/tokenizer-prep pass learns. For
    production-sized tables (the 32k merges :func:`bpe_train` now trains
    hybrid) use :func:`bpe_segment_ranked` — same output, O(1) plan
    size."""
    words = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("w"),
    )
    syms = F.concat(
        F.filter(F.split("w", ""), lambda c: c != ""),
        F.array(F.lit("</w>")),
    )
    for m in merges:
        syms = _apply_merge(syms, m["left"], m["right"])
    return (
        words.select(F.col(id_col), syms.alias("syms"))
        .groupBy(id_col)
        .agg(
            F.sum(F.size("syms")).cast("long").alias("n_bpe_tokens"),
            F.count("*").cast("long").alias("n_words"),
        )
    )


def bpe_segment_ranked(
    df: DataFrame,
    merges: list[dict],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Production-scale BPE segmentation: identical output contract to
    :func:`bpe_segment` but the merge table ships to executors ONCE as a
    broadcast rank dict and each word segments with the standard
    priority-queue algorithm (repeatedly merge the present pair with the
    LOWEST training rank — equivalent to replaying the merges in order,
    the GPT-2 bpe() formulation) inside an Arrow-batched mapInPandas.
    Plan size is O(1) in the merge count, per-word cost is
    O(len · log len · merges-present), and a per-batch word cache
    exploits Zipf (most tokens repeat). The fold path stays the
    all-Catalyst differential anchor: a pytest asserts both paths agree
    exactly."""
    ranks = {(m["left"], m["right"]): m["rank"] for m in merges}
    b_ranks = df.sparkSession.sparkContext.broadcast(ranks)

    words = df.select(
        F.col(id_col).alias("_id"), F.explode(tokens(text_col)).alias("w")
    )

    def run(batches):
        import pandas as pd

        rk = b_ranks.value
        cache: dict[str, int] = {}

        def n_syms(w: str) -> int:
            hit = cache.get(w)
            if hit is not None:
                return hit
            syms = list(w) + ["</w>"]
            while len(syms) > 1:
                best, best_i = None, -1
                for i in range(len(syms) - 1):
                    r = rk.get((syms[i], syms[i + 1]))
                    if r is not None and (best is None or r < best):
                        best, best_i = r, i
                if best is None:
                    break
                # merge EVERY occurrence of the winning pair, leftmost
                # greedy — one training merge rewrites the whole word
                left, right = syms[best_i], syms[best_i + 1]
                out, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == left
                        and syms[i + 1] == right
                    ):
                        out.append(left + right)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            cache[w] = len(syms)
            return len(syms)

        for pdf in batches:
            counts = [n_syms(w) for w in pdf["w"]]
            yield pd.DataFrame({"_id": pdf["_id"], "n": counts})

    per_word = words.mapInPandas(run, schema="_id long, n long")
    return per_word.groupBy(F.col("_id").alias(id_col)).agg(
        F.sum("n").cast("long").alias("n_bpe_tokens"),
        F.count("*").cast("long").alias("n_words"),
    )


def bpe_vocab(
    df: DataFrame, merges: list[dict], text_col: str = "text"
) -> dict[str, int]:
    """Materialize the trained tokenizer's VOCABULARY (token → id): the
    corpus's base symbols (every distinct character seen in whitespace
    tokens, plus the ``</w>`` end-of-word marker) in sorted order, then
    the merged tokens in rank order — the id layout GPT-2-style
    tokenizers ship. One distinct-chars aggregation over the corpus
    (map-side exploded, combinable), driver-held result like the merge
    table itself (model bytes, not data)."""
    chars = [
        r["c"]
        for r in df.select(
            F.explode(
                F.array_distinct(
                    F.flatten(
                        F.transform(
                            tokens(text_col),
                            lambda w: F.filter(
                                F.split(w, ""), lambda ch: ch != ""
                            ),
                        )
                    )
                )
            ).alias("c")
        )
        .distinct()
        .collect()
    ]
    vocab: dict[str, int] = {}
    for sym in sorted(chars) + ["</w>"]:
        vocab.setdefault(sym, len(vocab))
    for m in merges:
        vocab.setdefault(m["left"] + m["right"], len(vocab))
    return vocab


def bpe_encode_ids(
    df: DataFrame,
    merges: list[dict],
    vocab: dict[str, int],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ENCODE a corpus to token ids — the artifact a training-data
    pipeline actually feeds the model: (id, ids array<long>, n_tokens),
    ids in document order across words. Same broadcast-rank min-rank-
    present segmentation as :func:`bpe_segment_ranked` (so counts agree
    with both segmenters, pytest-pinned), then each symbol maps through
    the broadcast ``vocab``; a symbol absent from the vocab (a character
    never seen at train time) encodes as -1 — the caller decides the
    OOV policy (drop, replace, or byte-fallback) rather than the encoder
    inventing one silently. Arrow-batched, one shuffle (the groupBy
    reassembling documents from words)."""
    ranks = {(m["left"], m["right"]): m["rank"] for m in merges}
    sc = df.sparkSession.sparkContext
    b_ranks = sc.broadcast(ranks)
    b_vocab = sc.broadcast(vocab)

    words = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(tokens(text_col)).alias("_pos", "w"),
    )

    def run(batches):
        import pandas as pd

        rk = b_ranks.value
        vb = b_vocab.value
        cache: dict[str, list] = {}

        def encode(w: str) -> list:
            hit = cache.get(w)
            if hit is not None:
                return hit
            syms = list(w) + ["</w>"]
            while len(syms) > 1:
                best, best_i = None, -1
                for i in range(len(syms) - 1):
                    r = rk.get((syms[i], syms[i + 1]))
                    if r is not None and (best is None or r < best):
                        best, best_i = r, i
                if best is None:
                    break
                left, right = syms[best_i], syms[best_i + 1]
                out, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == left
                        and syms[i + 1] == right
                    ):
                        out.append(left + right)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            ids = [vb.get(s, -1) for s in syms]
            cache[w] = ids
            return ids

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "_id": pdf["_id"],
                    "_pos": pdf["_pos"],
                    "ids": [encode(w) for w in pdf["w"]],
                }
            )

    per_word = words.mapInPandas(
        run, schema="_id long, _pos int, ids array<long>"
    )
    return (
        per_word.groupBy(F.col("_id").alias(id_col))
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_pos", "ids"))
                    ),
                    lambda s: s["ids"],
                )
            ).alias("ids")
        )
        .select(
            id_col, "ids", F.size("ids").cast("long").alias("n_tokens")
        )
    )


def substring_dedup(
    df: DataFrame,
    window_tokens: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-global EXACT-SUBSTRING dedup at sliding-window granularity
    (the ExactSubstr family of Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better" — the substring complement to
    :func:`line_dedup`'s fixed lines and MinHash's whole-document
    near-dup): every ``window_tokens``-token OVERLAPPING window is
    hashed (md5 over the space-joined slice — engine-agnostic, so a SQL
    oracle reproduces it); a window text appearing more than once in the
    corpus keeps ONLY its first occurrence (global min (id, start)) and
    every other occurrence's token span is removed from its document.
    Adjacent/overlapping duplicated windows naturally merge into removed
    SPANS, so a long copied passage disappears as one block while its
    first occurrence survives verbatim — including self-repetition
    within one document.

    Scale shape: window hashing is map-side (slice + md5 over the token
    array — no per-window string shuffle beyond the 16-byte hash); the
    ownership shuffle moves (hash, id, start) triples, one per token
    (~same volume class as the line_dedup fingerprint shuffle); removal
    spans come back as per-doc START LISTS (each start covers a fixed
    width, so spans never explode into per-token rows), and the final
    reassembly is an index-filter over the cached token array. The
    token stage is PERSISTED (the d02/d09 staged-shingle pattern, via
    dedup's cache registry — call ``dedup.release_cached()`` after
    materializing): it feeds both the window fan-out and the reassembly
    join, and without the persist the dominant input — the corpus text
    — would be scanned and tokenized twice. Docs shorter than one
    window pass through untouched.

    Output: (id, text_deduped, n_tokens, n_removed).
    """
    from .dedup import _persist

    L = int(window_tokens)
    if L < 2:
        raise ValueError("window_tokens must be >= 2")
    base = _persist(
        df.select(F.col(id_col).alias("id"), tokens(text_col).alias("tk"))
    )
    wins = _window_hashes(base, L)
    owners = wins.groupBy("h").agg(
        F.min(F.struct("id", "p")).alias("first"),
        F.count("*").alias("df"),
    )
    removed = (
        wins.join(owners.filter(F.col("df") > 1), "h")
        .filter(
            (F.col("id") != F.col("first.id"))
            | (F.col("p") != F.col("first.p"))
        )
        .select("id", "p")
    )
    return _reassemble(base, removed, L, id_col)


def _window_hashes(base: DataFrame, L: int) -> DataFrame:
    """(id, tk) → one (id, p, h) row per overlapping L-token window:
    1-based start p, md5 over the space-joined slice — all map-side."""
    n = F.size("tk")
    return base.select(
        "id",
        F.explode(
            F.when(
                n >= L, F.sequence(F.lit(1), n - L + 1)
            ).otherwise(F.array().cast("array<int>"))
        ).alias("p"),
        "tk",
    ).select(
        "id",
        "p",
        F.md5(F.concat_ws(" ", F.slice("tk", F.col("p"), L))).alias("h"),
    )


def _reassemble(
    base: DataFrame, removed: DataFrame, L: int, id_col: str
) -> DataFrame:
    """Shared substring-dedup tail: collapse removed (id, p) window
    starts into per-doc sorted START LISTS (each start covers a fixed
    L-token width, so spans never explode into per-token rows) and
    index-filter each doc's own token array."""
    removals = removed.groupBy("id").agg(
        F.array_sort(F.collect_list("p")).alias("starts")
    )
    # kept(i) = no removed window start s covers position i
    # (s <= i <= s+L-1). starts is sorted, so the exists() scan short-
    # circuits; per-token cost is O(#spans), not O(#starts) in practice.
    covered = F.coalesce(F.col("starts"), F.array().cast("array<int>"))

    def keep(tok, i):
        pos = i + 1  # 1-based window starts
        return ~F.exists(
            covered,
            lambda s: (s <= pos) & (pos <= s + F.lit(L - 1)),
        )

    return (
        base.join(removals, "id", "left")
        .withColumn("_kept", F.filter("tk", keep))
        .select(
            F.col("id").alias(id_col),
            F.concat_ws(" ", "_kept").alias("text_deduped"),
            F.size("tk").cast("long").alias("n_tokens"),
            (F.size("tk") - F.size("_kept")).cast("long").alias("n_removed"),
        )
    )


def build_substring_index(
    df: DataFrame,
    table: str,
    window_tokens: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 32,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize the corpus's window-hash OWNERSHIP table once — the
    ingestion-time half of incremental exact-substring dedup (the
    ExactSubstr analogue of dedup.build_minhash_index): one row per
    DISTINCT window hash, carrying its first occurrence
    ``(h, id, p)`` (global min (id, p) — the same owner rule as
    :func:`substring_dedup`), bucketed on ``h``. Every later batch
    joins its window hashes against this table with NO corpus-side
    Exchange; the corpus-wide tokenize + hash scan is paid once here.
    State size is one row per distinct window hash (~per corpus token)
    — the honest ExactSubstr state (Lee et al. use a suffix array of
    the same scale). Maintain with :func:`append_to_substring_index`
    per batch and dedup_stream.compact_index_table for the small-file
    lifecycle."""
    L = int(window_tokens)
    if L < 2:
        raise ValueError("window_tokens must be >= 2")
    from .scale import write_bucketed

    base = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("tk")
    )
    owners = (
        _window_hashes(base, L)
        .groupBy("h")
        .agg(F.min(F.struct("id", "p")).alias("first"))
        .select("h", F.col("first.id").alias("id"), F.col("first.p").alias("p"))
    )
    write_bucketed(owners, table, "h", buckets=buckets, mode=mode, path=path)


def incremental_substring_dedup(
    batch: DataFrame,
    spark,
    table: str,
    window_tokens: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring dedup of a NEW batch against the indexed corpus
    (build_substring_index) — production corpus dedup is incremental,
    and this gives ExactSubstr the same persisted-index lifecycle d06
    gives MinHash. A batch window is REMOVED when its hash exists in
    the index (the corpus saw that text first) or when an earlier
    (id, p) occurrence exists within the batch itself; batch-internal
    first occurrences survive, exactly :func:`substring_dedup`'s
    keep-first rule applied with the corpus as the earlier wave. When
    batch ids follow corpus ids (the production ingestion order), the
    decisions equal the full-corpus :func:`substring_dedup` restricted
    to batch rows — pinned by pytest.

    Scale shape: only the BATCH is tokenized and hashed (one persisted
    pass — the d10 single-scan rule); the index join is a left join on
    ``h`` into the table's bucketing, so the corpus side plans with
    ZERO Exchange (plan-asserted) and the batch-internal ownership
    groupBy reuses the join's hash partitioning. Output: one row per
    batch doc — (id, text_deduped, n_tokens, n_removed)."""
    from .dedup import _persist

    L = int(window_tokens)
    if L < 2:
        raise ValueError("window_tokens must be >= 2")
    base = _persist(
        batch.select(F.col(id_col).alias("id"), tokens(text_col).alias("tk"))
    )
    wins = _window_hashes(base, L)
    idx = spark.table(table).select("h", F.lit(True).alias("_corpus"))
    marked = wins.join(idx, "h", "left")
    fresh = marked.filter(F.col("_corpus").isNull())
    owners = fresh.groupBy("h").agg(
        F.min(F.struct("id", "p")).alias("first"),
        F.count("*").alias("df"),
    )
    batch_removed = (
        fresh.join(owners.filter(F.col("df") > 1), "h")
        .filter(
            (F.col("id") != F.col("first.id"))
            | (F.col("p") != F.col("first.p"))
        )
        .select("id", "p")
    )
    corpus_removed = marked.filter(F.col("_corpus").isNotNull()).select(
        "id", "p"
    )
    return _reassemble(
        base, corpus_removed.unionByName(batch_removed), L, id_col
    )


def append_to_substring_index(
    batch: DataFrame,
    table: str,
    window_tokens: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int | None = None,
) -> None:
    """Add a processed batch's NEW window hashes (those absent from the
    index) with their batch-first owners — the state-update half of the
    incremental lifecycle (dedup_stream.append_to_minhash_index's
    pattern: anti-join keeps the table one-row-per-hash so lookup joins
    never multiply; bucket count is read from the catalog so the
    no-corpus-Exchange plans survive appends)."""
    L = int(window_tokens)
    spark = batch.sparkSession
    if buckets is None:
        from ..streaming.dedup_stream import _table_buckets

        buckets = _table_buckets(spark, table) or 32
    from .scale import write_bucketed

    base = batch.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("tk")
    )
    new_owners = (
        _window_hashes(base, L)
        .join(spark.table(table).select("h"), "h", "left_anti")
        .groupBy("h")
        .agg(F.min(F.struct("id", "p")).alias("first"))
        .select(
            "h", F.col("first.id").alias("id"), F.col("first.p").alias("p")
        )
    )
    write_bucketed(new_owners, table, "h", buckets=buckets, mode="append")
    spark.catalog.refreshTable(table)


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_tokens: int = 8,
    key: str = "fingerprint",
) -> DataFrame:
    """Corpus-global line-level dedup (C4's "discard duplicated lines
    across documents" rule, Raffel et al. 2020 §2.2): documents split into
    fixed-width token lines; each distinct line is KEPT only in its
    minimum-id owner document and removed everywhere else; per-document
    text is reassembled in original line order.

    Output: (id, text_deduped, n_lines, n_kept). Docs with no tokens drop
    (no lines to own).

    Scale shape — ``key="fingerprint"`` (default, the 100 TB path): the
    line is hashed map-side to a 128-bit md5 fingerprint and the LINE TEXT
    NEVER SHUFFLES. Ownership groupBy (map-side partial min) and the
    decision join move only (fp, id, line_no) — ≤48 bytes/line regardless
    of line length; per-doc kept ordinals aggregate to one narrow int
    array per doc; reassembly re-slices the kept line windows from the
    document's own token array in a single id-keyed join, so the text
    moves exactly once. Total: two narrow-key shuffles + one text-bearing
    shuffle — vs THREE text-bearing shuffles in the ``key="content"``
    legacy formulation (ownership, join-back, reassembly), which is kept
    as the collision-impossible oracle form. An md5 collision (needed to
    mis-share a line between two distinct texts) has per-pair probability
    2^-128 — negligible at any corpus size.

    A hot line (boilerplate shared by millions of docs) is a narrow-row
    skew key in the decision join; AQE's skew-join splits it at runtime,
    and the ownership aggregate is map-side combinable either way."""
    if key not in ("fingerprint", "content"):
        raise ValueError(
            f"key must be 'fingerprint' or 'content', got {key!r}"
        )
    L = line_tokens
    toks = (
        df.select(F.col(id_col).alias("id"), tokens(text_col).alias("tk"))
        .filter(F.size("tk") > 0)
    )
    n_lines = F.ceil(F.size("tk") / F.lit(float(L))).cast("int")
    lines = toks.select(
        "id",
        F.explode(F.sequence(F.lit(0), n_lines - 1)).alias("line_no"),
        "tk",
    ).select(
        "id",
        "line_no",
        F.array_join(
            F.slice("tk", F.col("line_no") * L + 1, F.lit(L)), " "
        ).alias("line"),
    )
    if key == "fingerprint":
        narrow = lines.select(
            "id", "line_no", F.md5("line").alias("fp")
        )
        owners = narrow.groupBy("fp").agg(F.min("id").alias("owner"))
        flags = narrow.join(owners, "fp").select(
            "id",
            "line_no",
            (F.col("id") == F.col("owner")).cast("long").alias("kept"),
        )
        kept_sets = flags.groupBy("id").agg(
            F.count("*").alias("n_lines"),
            F.sum("kept").alias("n_kept"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("kept") == 1, F.col("line_no"))
                )
            ).alias("keep_nos"),
        )
        out = toks.join(kept_sets, "id").select(
            "id",
            F.expr(
                "array_join(flatten(transform(keep_nos,"
                f" no -> slice(tk, no * {L} + 1, {L}))), ' ')"
            ).alias("text_deduped"),
            "n_lines",
            "n_kept",
        )
        return out.withColumnRenamed("id", id_col).select(
            id_col, "text_deduped", "n_lines", "n_kept"
        )
    owners = lines.groupBy("line").agg(F.min("id").alias("owner"))
    joined = lines.join(owners, "line").withColumn(
        "kept", (F.col("id") == F.col("owner")).cast("long")
    )
    kept_struct = F.when(
        F.col("kept") == 1, F.struct("line_no", "line")
    )
    out = joined.groupBy("id").agg(
        F.count("*").alias("n_lines"),
        F.sum("kept").alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(kept_struct)),
                lambda x: x["line"],
            ),
            " ",
        ).alias("text_deduped"),
    )
    return out.withColumnRenamed("id", id_col).select(
        id_col, "text_deduped", "n_lines", "n_kept"
    )


def zipf_histogram(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Vocabulary frequency-spectrum histogram: token types bucketed by
    floor(log2(corpus frequency)) — the Zipf curve summary a tokenizer/
    vocab designer reads to pick vocabulary size and min-frequency
    cutoffs (how many types are hapax (bucket 0), how many live in each
    doubling band, where the mass is).

    Output: (freq_bucket, n_types, n_occurrences) — types = distinct
    tokens in the band [2^b, 2^(b+1)), occurrences = their summed corpus
    count. The bucket is computed as ``length(bin(c)) - 1`` — exact
    integer msb position, NOT floating log2(): libm log2 of a power of
    two can land an ulp below the integer and misbucket a type, and the
    whole point is engine-bit-identical results.

    Scale shape: the classic two-level aggregation — one wordcount
    shuffle (map-side combined), then a ≤64-row bucket aggregate
    (control-plane). Nothing else moves.
    """
    toks = df.select(F.explode(tokens(text_col)).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    bucket = (F.length(F.bin("c")) - 1).cast("long")
    return counts.groupBy(bucket.alias("freq_bucket")).agg(
        F.count("*").alias("n_types"),
        F.sum("c").cast("long").alias("n_occurrences"),
    )


def html_text(col: Column | str) -> Column:
    """Visible text from an HTML payload — the crawl-intake extraction
    step between :mod:`..sources.warc` and every text-quality/dedup
    operator (the trafilatura/jusText role, reduced to its deterministic
    core). Entirely Catalyst regex/replace — no UDF, no parser state —
    so it runs JVM-side inside whole-stage codegen at crawl scale:

    1. ``<script>``/``<style>`` elements removed WITH their contents
       (code is not prose), then comments;
    2. every remaining tag becomes a space (block/inline distinction
       dropped — the downstream whitespace collapse makes the output
       independent of it);
    3. the five XML core entities + ``&nbsp;`` decoded, ``&amp;`` LAST
       (so ``&amp;lt;`` yields the literal ``&lt;`` — double-encoded
       entities must not double-decode);
    4. whitespace runs collapsed to single spaces, ends trimmed.

    NULL in → NULL out."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"<[^>]*>", " ")
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&apos;", "'"), ("&nbsp;", " "),
        ("&amp;", "&"),
    ):
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


#: block-level boundary tags for boilerplate segmentation — the
#: elements browsers render as line-breaking blocks; a page splits
#: into candidate blocks at every OPENING occurrence
_BLOCK_SPLIT_RE = (
    r"(?i)<(?:p|div|td|li|h[1-6]|article|section|header|footer|nav"
    r"|ul|ol|table|tr|blockquote)\b[^>]*>"
)


def _strip_markup(x: Column) -> Column:
    """html_text's steps 2-4 on one fragment: tags → spaces, the five
    core entities + &nbsp; (&amp; last), whitespace collapse + trim."""
    x = F.regexp_replace(x, r"<[^>]*>", " ")
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&apos;", "'"), ("&nbsp;", " "),
        ("&amp;", "&"),
    ):
        x = F.replace(x, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(x, r"\s+", " "))


def extract_main_text(
    df: DataFrame,
    html_col: str = "html",
    out_col: str = "main_text",
    max_link_density: float = 0.34,
    min_chars: int = 20,
) -> DataFrame:
    """Block-level BOILERPLATE REMOVAL — the deterministic core of the
    jusText / Kohlschütter link-density heuristic (public papers:
    boilerplate blocks are short and/or dominated by anchor text;
    content blocks are long prose with few links). Where
    :func:`html_text` extracts ALL visible text, this keeps only the
    blocks a corpus wants: navigation bars, footers, related-links
    lists and share buttons drop; paragraphs survive.

    Mechanics, entirely Catalyst (whole-stage codegen, no UDF), each
    higher-order step staged as its OWN projection (the x28 rule —
    nested HOF columns duplicate their subtree during analysis):

    1. ``<script>``/``<style>``/comments removed with contents;
    2. the page splits into blocks at every opening block-level tag
       (p/div/td/li/h1-6/article/section/header/footer/nav/ul/ol/
       table/tr/blockquote);
    3. per block, the visible text and the ANCHOR-ONLY text (inner
       text of ``<a>`` elements) are stripped with html_text's rules;
    4. a block is kept when its text has ≥ ``min_chars`` characters
       AND its link density (anchor chars / text chars) is ≤
       ``max_link_density``;
    5. ``out_col`` is the kept blocks joined with newlines, plus
       ``n_kept`` and ``main_chars`` diagnostics.

    Scale shape: map-side projection chain — no shuffle, no Python."""
    c = F.col(html_col)
    c = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    out = df.withColumn("_blocks", F.split(c, _BLOCK_SPLIT_RE))
    out = out.withColumn(
        "_araw",
        F.transform(
            "_blocks",
            lambda b: F.array_join(
                F.regexp_extract_all(
                    b, F.lit(r"(?is)<a\b[^>]*>(.*?)</a>"), F.lit(1)
                ),
                " ",
            ),
        ),
    )
    out = out.withColumn("_btext", F.transform("_blocks", _strip_markup))
    out = out.withColumn("_batext", F.transform("_araw", _strip_markup))
    out = out.withColumn(
        "_pairs",
        F.zip_with(
            "_btext", "_batext",
            lambda t, a: F.struct(t.alias("t"), a.alias("a")),
        ),
    )
    out = out.withColumn(
        "_kept",
        F.filter(
            "_pairs",
            lambda s: (F.length(s["t"]) >= F.lit(int(min_chars)))
            & (
                F.length(s["a"]).cast("double")
                <= F.lit(float(max_link_density))
                * F.length(s["t"]).cast("double")
            ),
        ),
    )
    out = out.withColumn(
        out_col,
        F.array_join(F.transform("_kept", lambda s: s["t"]), "\n"),
    )
    out = out.withColumn("n_kept", F.size("_kept").cast("int"))
    out = out.withColumn("main_chars", F.length(out_col).cast("long"))
    return out.drop("_blocks", "_araw", "_btext", "_batext", "_pairs",
                    "_kept")


#: href capture shared by Spark and the DuckDB oracle (Java regex ∩
#: RE2): double- or single-quoted href inside an <a ...> tag.
#: group 1 captures the href value WITH its quotes (or bare, for legal
#: unquoted HTML attributes — terminated by whitespace/'>'); the
#: alternation keeps regexp_extract_all to ONE group, and html_links
#: strips the quote shell afterwards. Java-regex ∩ RE2 so the DuckDB
#: oracle runs the identical extraction + strip.
HTML_HREF_RE = (
    """(?i)<a\\s[^>]*href=("[^"]*"|'[^']*'|[^\\s>"'][^\\s>]*)"""
)
#: the quote-shell strip applied to every captured value (both engines)
HREF_STRIP_RE = """^["']|["']$"""

#: attribute-value captures used INSIDE one already-extracted tag body
#: (r14): quoted values keep their shell (stripped afterwards), legal
#: unquoted values run to the next whitespace/'>'. Java-regex ∩ RE2.
_ATTR_HREF_RE = (
    """(?i)href\\s*=\\s*("[^"]*"|'[^']*'|[^\\s>"'][^\\s>]*)"""
)
_ATTR_CONTENT_RE = (
    """(?i)content\\s*=\\s*("[^"]*"|'[^']*'|[^\\s>"'][^\\s>]*)"""
)


def html_links(col: Column | str) -> Column:
    """All ``<a href>`` targets of an HTML payload, in document order —
    the link-extraction half of crawl discovery (redirects and sitemaps
    are the other channels). Handles double-quoted, single-quoted, AND
    legal unquoted attribute values (captured with their quote shell,
    stripped here). Pure Catalyst ``regexp_extract_all`` + transform:
    no UDF, whole-stage codegen, and both patterns are Java-regex ∩
    RE2 so the DuckDB oracle runs the identical extraction + strip.
    NULL in → empty handled by the caller (regexp_extract_all of NULL
    is NULL)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        F.regexp_extract_all(c, F.lit(HTML_HREF_RE), F.lit(1)),
        lambda v: F.regexp_replace(v, HREF_STRIP_RE, ""),
    )


def html_canonical_link(col: Column | str) -> Column:
    """The ``<link rel="canonical" href=...>`` target of an HTML page,
    or NULL — the publisher's OWN dedup declaration (the Google
    convention): mirrors, tracking-parameter variants and paginated
    views all point at one canonical URL, and a crawl that honors it
    collapses them BEFORE content fingerprints ever run. Both
    attribute orders (rel-then-href and href-then-rel) and all three
    legal quote shells handled; the first declaration wins (the
    convention when a broken page carries several). Pure Catalyst —
    Java-regex ∩ RE2, so a DuckDB oracle runs the identical
    extraction. Resolve the result with :func:`resolve_link` +
    ``canonical_url`` like any discovery href; never trust it blindly
    cross-host (canonical-to-elsewhere is a known spam vector — policy
    belongs to the caller)."""
    c = F.col(col) if isinstance(col, str) else col
    # r14 (per r13 verdict): tag-scoped first-wins. Extract every
    # <link ...> tag body (up to but excluding '>'), keep the ones
    # that carry BOTH a rel=canonical token and an href, take the
    # FIRST in document order, then pull the href out of that one tag.
    # This fixes (a) the declaration-order tie-break — an href-then-rel
    # spelling earlier in the document now beats a rel-then-href one
    # later — and (b) the rel=canonical-next decoy: the token needs a
    # closing quote / whitespace / '/' or tag end after "canonical".
    tags = F.regexp_extract_all(c, F.lit(r"(?i)<link[^>]*"), F.lit(0))
    sel = F.filter(
        tags,
        lambda t: t.rlike(r"(?i)rel\s*=\s*['\"]?canonical(['\"\s/]|$)")
        & t.rlike(_ATTR_HREF_RE),
    )
    first = F.get(sel, 0)
    out = F.nullif(
        F.regexp_replace(
            F.regexp_extract(first, _ATTR_HREF_RE, 1),
            HREF_STRIP_RE, "",
        ),
        F.lit(""),
    )
    return out


def html_meta_robots(col: Column | str) -> Column:
    """The ``<meta name="robots" content=...>`` directive list of an
    HTML page, lowercased and whitespace-normalized (``'noindex,
    nofollow'`` → ``'noindex,nofollow'``), or NULL when absent — the
    page-level exclusion protocol that complements robots.txt: a
    ``noindex`` page is fetched but must NOT enter the corpus, a
    ``nofollow`` page's links must not feed discovery. Check with
    ``F.array_contains(F.split(col, ','), 'noindex')``. First
    declaration wins; pure Catalyst."""
    c = F.col(col) if isinstance(col, str) else col
    # r14 (per r13 verdict): tag-scoped first-wins, same shape as
    # html_canonical_link. Fixes (a) legal UNQUOTED content values —
    # <meta name=robots content=noindex> used to return NULL and the
    # noindex page entered the corpus; (b) the name-token boundary —
    # name="robotsx" no longer matches as robots; (c) the
    # declaration-order tie-break across attribute orders.
    tags = F.regexp_extract_all(c, F.lit(r"(?i)<meta[^>]*"), F.lit(0))
    sel = F.filter(
        tags,
        lambda t: t.rlike(r"(?i)name\s*=\s*['\"]?robots(['\"\s/]|$)")
        & t.rlike(_ATTR_CONTENT_RE),
    )
    first = F.get(sel, 0)
    got = F.nullif(
        F.regexp_replace(
            F.regexp_extract(first, _ATTR_CONTENT_RE, 1),
            HREF_STRIP_RE, "",
        ),
        F.lit(""),
    )
    return F.lower(F.regexp_replace(got, r"\s+", ""))


def robots_noindex(robots: Column) -> Column:
    """True when a :func:`html_meta_robots` directive list excludes the
    page from the corpus: a ``noindex`` token, or ``none`` — which per
    the robots-meta spec means ``noindex, nofollow`` (r14, per r13
    ADVICE: ``content="none"`` pages previously entered the corpus).
    NULL-safe (absent directives → False)."""
    toks = F.split(robots, ",")
    return F.coalesce(
        F.array_contains(toks, "noindex")
        | F.array_contains(toks, "none"),
        F.lit(False),
    )


def robots_nofollow(robots: Column) -> Column:
    """True when the directive list suppresses link discovery:
    ``nofollow``, or the ``none`` shorthand. NULL-safe."""
    toks = F.split(robots, ",")
    return F.coalesce(
        F.array_contains(toks, "nofollow")
        | F.array_contains(toks, "none"),
        F.lit(False),
    )


def resolve_link(
    base_url: Column | str,
    href: Column | str,
    merge_relative: bool = False,
) -> Column:
    """Resolve one extracted href against the page URL — the subset of
    RFC 3986 §5 a discovery pipeline needs, entirely Catalyst:

    - absolute ``http(s)://...`` hrefs pass through;
    - protocol-relative ``//host/path`` takes the base's scheme;
    - root-relative ``/path`` takes the base's scheme://host;
    - fragment-only, ``javascript:``/``mailto:``/other-scheme and empty
      hrefs resolve to NULL (dropped);
    - path-relative hrefs: NULL by default; with
      ``merge_relative=True`` they merge onto the base's directory
      (RFC 3986 §5.3 merge — the query/fragment-stripped base path up
      to its last ``/``). The merge intentionally leaves ``.``/``..``
      segments in place: every discovery consumer runs
      :func:`..functions.strings.canonical_url` next, whose dot-segment
      fold (§5.2.4) finishes the resolution — splitting it this way
      keeps both halves individually oracle-checkable.

    Feed the result through ``canonical_url`` before any frontier
    decision, like every other discovery channel."""
    b = F.col(base_url) if isinstance(base_url, str) else base_url
    h = F.col(href) if isinstance(href, str) else href
    scheme = F.regexp_extract(b, r"^([A-Za-z][A-Za-z0-9+.\-]*):", 1)
    origin = F.regexp_extract(b, r"^([A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*)", 1)
    out = (
        F.when(h.rlike(r"^[Hh][Tt][Tt][Pp][Ss]?://"), h)
        .when(h.startswith("//"), F.concat(scheme, F.lit(":"), h))
        .when(h.startswith("/"), F.concat(origin, h))
    )
    if merge_relative:
        path = F.regexp_replace(
            F.regexp_replace(
                b, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*", ""
            ),
            r"[?#].*$", "",
        )
        base_dir = F.regexp_replace(path, r"[^/]*$", "")
        base_dir = F.when(base_dir == "", F.lit("/")).otherwise(base_dir)
        relative_ok = (
            (h != "")
            & ~h.startswith("#")
            & ~h.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*:")
        )
        # RFC 3986 §5.3: a query-only reference ("?page=2") keeps the
        # FULL base path and replaces only the query — it is not merged
        # onto the base directory.
        base_path = F.when(path == "", F.lit("/")).otherwise(path)
        out = out.when(
            h.startswith("?"), F.concat(origin, base_path, h)
        ).when(
            relative_ok, F.concat(origin, base_dir, h)
        )
    return out.otherwise(F.lit(None).cast("string"))


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_norm",
) -> DataFrame:
    """Canonical Unicode text normalization for dedup/tokenizer
    pipelines: NFC composition (é as one codepoint, not e+combining
    accent — without it, byte-level dedup misses visually-identical
    docs), C0/C1 control characters stripped (keeping \\t \\n), and
    whitespace runs collapsed to single spaces with ends trimmed.

    NFC runs in an Arrow-batched pandas UDF (Python's unicodedata —
    Spark SQL has no normalization builtin; both it and DuckDB's
    nfc_normalize implement the same Unicode standard algorithm, which
    is what makes the oracle exact). The control-char strip and
    whitespace collapse stay JVM-side regex on either side of the UDF,
    so the Python surface is exactly one str.translate-free
    normalize call per value per batch. NULL text passes through as
    NULL, same as every scalar function here.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    # no type hints on the UDF: this module uses `from __future__ import
    # annotations`, which turns them into strings pandas_udf can't parse;
    # the explicit returnType + un-annotated signature is the robust form
    @pandas_udf(StringType())
    def _nfc(s):
        import unicodedata

        return s.map(
            lambda v: unicodedata.normalize("NFC", v)
            if v is not None
            else None
        )

    stripped = F.regexp_replace(
        F.col(text_col),
        "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]",
        "",
    )
    collapsed = F.trim(F.regexp_replace(_nfc(stripped), "\\s+", " "))
    return df.withColumn(
        out_col,
        F.when(F.col(text_col).isNull(), F.lit(None)).otherwise(collapsed),
    )


def c4_quality_filter(
    docs: DataFrame,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    min_words: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """The C4 line-level cleaning rules (Raffel et al. 2020 §2.2 — the
    canonical public web-corpus filter, complementing the Gopher
    DOCUMENT-level rules in :func:`gopher_quality_stats`): a line
    survives iff it ends in terminal punctuation (``. ! ? "``), has at
    least ``min_words`` words, and mentions none of ``javascript`` /
    ``lorem ipsum`` / ``{`` (case-insensitive); a document survives iff
    at least ``min_kept_lines`` lines do.

    Pure Catalyst and entirely MAP-SIDE (split → higher-order filter →
    aggregate; no explode, no shuffle, whole-stage codegen) — at 100 TB
    this runs in the same scan as the other quality signals.  Returns
    per doc: ``n_lines``, ``n_kept``, ``kept_chars`` (characters the
    filter retains) and the ``keep`` verdict."""
    lines = F.split(F.col(text_col), "\n")

    def _line_ok(l):
        t = F.trim(l)
        low = F.lower(t)
        return (
            t.rlike('[.!?"]$')
            & (F.size(F.split(t, " +")) >= min_words)
            & ~low.contains("javascript")
            & ~low.contains("lorem ipsum")
            & ~low.contains("{")
        )

    kept = F.filter(lines, _line_ok)
    return (
        docs.withColumn("_lines", lines)
        .withColumn("_kept", kept)
        .select(
            F.col(doc_id_col),
            F.size("_lines").alias("n_lines"),
            F.size("_kept").alias("n_kept"),
            F.aggregate(
                "_kept",
                F.lit(0),
                lambda acc, l: acc + F.length(F.trim(l)),
            ).alias("kept_chars"),
            (F.size("_kept") >= F.lit(min_kept_lines)).alias("keep"),
        )
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document to a bag-of-terms query
    (Robertson & Walker 1994; the +1 idf form Lucene uses, so idf is
    always positive) — the retrieval-scoring half a training-data
    pipeline needs for query-targeted subset selection, alongside the
    DSIR/contrastive selection already here.

    Spark-first shape: corpus statistics (average document length and
    each term's document frequency) are ONE tiny aggregate collected as
    control-plane scalars (the pagerank dangling-mass rule — k+1
    doubles, never data-proportional), then scoring is a single
    MAP-SIDE projection: per-term tf via higher-order array ops on the
    tokenized text, the BM25 sum folded into one expression, no
    shuffle, no UDF, whole-stage codegen.

    Tokenization: lowercase whitespace split (the x17/x22 convention).
    Returns (doc_id, doclen, score) with ``score`` rounded to 6
    decimals — the idf/length math is pure double arithmetic on
    integer statistics, identical in any engine at that precision."""
    import math

    toks = F.split(F.lower(F.col(text_col)), "\\s+")
    base = docs.select(
        F.col(doc_id_col).alias("doc_id"),
        F.size(toks).alias("doclen"),
        *[
            F.size(F.filter(toks, _eq_factory(t))).alias(f"_tf{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    stats = base.agg(
        F.count("*").alias("n"),
        F.avg("doclen").alias("avgdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(query_terms))
        ],
    ).collect()[0]
    n = stats["n"]
    if n == 0:
        # empty corpus: avgdl is NULL — return an empty, correctly
        # typed frame rather than crashing on float(None)
        return base.select(
            "doc_id", "doclen", F.lit(0.0).alias("score")
        ).limit(0)
    avgdl = float(stats["avgdl"])
    if avgdl == 0.0:
        # all-empty docs: every tf is 0, so every score is 0; avoid the
        # 0/0 in the length normalizer
        avgdl = 1.0
    score = F.lit(0.0)
    for i in range(len(query_terms)):
        df_i = stats[f"_df{i}"]
        idf = math.log(1.0 + (n - df_i + 0.5) / (df_i + 0.5))
        tf = F.col(f"_tf{i}").cast("double")
        denom = tf + k1 * (1.0 - b + b * F.col("doclen") / avgdl)
        score = score + F.lit(idf) * (tf * (k1 + 1.0)) / denom
    return base.select(
        "doc_id", "doclen", F.round(score, 6).alias("score")
    )


def _eq_factory(term: str):
    """Closure factory for array-filter lambdas (the F.filter
    second-param-is-index pitfall: never capture via default args)."""
    def _eq(tok):
        return tok == F.lit(term)

    return _eq
