"""Adversarial-data parity sweep: mutate the driver's sf tables with
edge-case values the generator never emits, then run the full
Spark-vs-DuckDB registry parity over the mutated copy.

The driver certifies at sf0.01 on well-behaved synthetic data; this
sweep executes the same oracle contracts on data that exercises the
NULL / collation / malformed-payload / degenerate-vector paths those
rows never reach. A divergence here is a latent bug the CORRECTNESS
gate cannot see.

Mutations respect the tables' input contracts so findings are signal,
not noise:

- primary-key columns stay non-NULL and unique (duplicated rows are
  re-keyed with fresh ids — realistic exact-duplicate CONTENT without
  violating key uniqueness);
- NULLs are injected into every non-key column, including foreign
  keys (NULL join/group keys are legal inputs both engines must agree
  on);
- numeric edge values stay inside the domain the engine's decimal
  parity casts declare (Decimal(12,2)), but include 0, -1, and -0.0;
- string edge values: empty, whitespace, unicode, LIKE metachars,
  quotes/backslashes, 2000-char blobs;
- ``events.props`` gets malformed / non-object / wrong-typed JSON;
- embeddings get a zero-norm vector, an empty vector, and a vector
  with a NULL element — shapes that occur in any real 100 TB corpus.

Usage:
    python tools/edge_sweep.py [--gen-only] [--empty] [--out DIR] [--src DIR] [query ...]

Defaults: src=/root/testdata/sf0.001, out=/tmp/sdl_edge. Generation
is deterministic (fixed seed per table); the parity run execs
tools/check.py against the mutated dir.

``--empty`` generates zero-row tables (schema preserved) instead of
mutated ones — the empty-partition/fresh-deployment state every
operator must survive without crashing (out default /tmp/sdl_empty).

``--shuffle`` writes the UNCHANGED rows in a seeded random order
(out default /tmp/sdl_shuffle): engine and oracle read the same
permuted file, so any divergence is an ORDER-DEPENDENT result — a
first()/collect_list/min_by-tie class nondeterminism bug that would
also fire on any cluster repartition.

``--nonfinite`` (out default /tmp/sdl_nonfinite) injects NaN and
+/-Infinity into ``events.value`` ONLY — the one float column with a
declared finiteness contract (clean events route non-finite values
to NON_FINITE_VALUE rejects; ADVICE r11 found the sweep could not
see an isfinite parity divergence because it never injected one).
Scoped to the contracted column on purpose: un-contracted float
columns (prices, discounts) have no defined non-finite semantics and
both engines abort identically on them, which tests nothing.

``--time-edge`` (out default /tmp/sdl_timeedge_sweep) injects
extreme-but-valid timestamps into ``events.ts`` ONLY — epoch zero,
the nanos-long min/max neighborhood, datetime.min/max — the r13
time-edge admission contract (parity.admissible_ts). First run found
15 failing queries: "year 0 is out of range" collect() aborts
(one-ancient-row-kills-the-job), silent watermark poisoning by a
single far-future row (2-3 rows lost per streaming query), and a
PIT-join label fabricated for a pre-dim-history fact.

``--huge-doc`` (out default /tmp/sdl_hugedoc) is the DOCUMENT
PATHOLOGY sweep: it overwrites ``documents.text`` rows with (a) huge
deterministic token streams — one 220k-token (~1.3 MB) document plus
a few ~20k-token ones, (b) MEGATOKEN documents — a single 300 KB
whitespace-free run and a 50 KB run embedded mid-sentence (the
scraped-binary/minified-JS shape), and (c) a 30% duplicate FLOOD
(row 3's text copied verbatim — the boilerplate-page clique), then
runs full-registry parity under a per-query wall bound
(HUGE_DOC_MAX_QUERY_SEC, the skew sweep's pattern). Its catches so
far: r13 probe — winnowing per-index re-evaluation (171 s -> 1.1 s
at 20k tokens), chunking-oracle LATERAL copies; r14 first run —
bigram-oracle LATERAL copies (>10 min), chunking's Spark-side
explode-then-slice (182 s) AND the r13 fix's in-lambda list_slice
(80 s); r14 megatoken probe — the unbounded email regex hanging
Java's backtracking engine while DuckDB's RE2 stayed linear.

``--row-scale`` (out default /tmp/sdl_rowscale, src default
/root/testdata/sf0.1) is the ROW-COUNT scale axis: every fact table
is tiled into K=6 self-consistent shards (per-copy key offsets —
user cardinality grows 6x too; shard text/embeddings perturbed so
copies stay near-dups, not exact dups; dims untouched so fan-out
grows 6x), then full-registry parity runs under a per-query wall
bound (ROW_SCALE_MAX_QUERY_SEC). The huge-doc sweep scales one
VALUE; this scales the ROW population — the axis where a hidden
all-pairs stage, an unbounded collect, or a driver-side loop turns
sf0.6 into a hang long before 100 TB.

``--unicode`` (out default /tmp/sdl_unicode) injects the unicode
pathology pool — NFC/NFD twins, conjoining jamo, ZWJ/modifier/flag
grapheme clusters, astral-plane letters, combining-mark stacks,
zero-width/bidi controls inside tokens, non-ASCII Unicode whitespace
(outside the compared [ \t\n\r\f\x0B] class: must GLUE in both
engines), and locale-sensitive case traps — into every non-PK string
column, plus three long tiled unicode documents so chunking/
shingling/winnowing cross grapheme boundaries (r16 axis; first
full-registry run ALL GREEN: the engine is case-preserving and
normalization-free, so both engines agree byte-for-byte).

``--order-sensitive`` restricts the run to the queries whose oracle
SQL or Spark source contains an order-sensitive construct (window
ranking, LIMIT, first/last, positional folds, collected lists) — the
subset is DERIVED from the registry at run time, never
hand-maintained, so new queries join it automatically (VERDICT r11
"Next round" #7). The full-registry --shuffle run stays available as
the on-demand probe (ALL GREEN at r11); the subset is the cheap
per-round gate.
"""

from __future__ import annotations

import random
import re
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

SRC_DEFAULT = "/root/testdata/sf0.001"
OUT_DEFAULT = "/tmp/sdl_edge"

# Primary-key columns: never NULLed, never edge-overwritten; fresh
# values on duplicated rows. lineitem's key is composite — keeping
# both halves pristine and re-keying l_linenumber preserves pair
# uniqueness.
PK_COLS = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

NULL_RATE = 0.03
DUP_RATE = 0.02

EDGE_STRINGS = [
    "",
    "   ",
    " leading",
    "trailing ",
    "naïve🦆",
    "percent%under_score",
    'quote"back\\slash',
    "UPPER lower MiXeD",
    "x" * 2000,
    # Control-char whitespace (r15 probe): Java's \s includes \x0B
    # (vertical tab), RE2's does not — a bare \s in any compared
    # regex diverges on these. The explicit [ \t\n\r\f\x0B] class
    # must keep both engines splitting VT/FF and gluing NBSP.
    "vt\x0bsplit word",
    "ff\x0csplit word",
    "nbsp\xa0glued word",
]

EDGE_JSON = [
    "",
    "not json at all",
    '{"k": "string-not-int"}',
    '{"other": 1}',
    '{"k": -5}',
    '{"k": 999999}',
    # Parser-pathology shapes (r14 probe, all seven held parity at
    # depth 100k / width 20k — these two keep the axis permanently
    # guarded at sweep-friendly size): deep nesting exercises the
    # Jackson-vs-yyjson recursion asymmetry behind from_json /
    # json_valid; the wide object exercises linear-parse volume.
    '{"a":' * 20_000 + "1" + "}" * 20_000,
    '{"k": 7, ' + ", ".join(f'"x{i}": {i}' for i in range(5_000)) + "}",
]


def _edge_numeric(pa_type, observed_max):
    if pa.types.is_floating(pa_type):
        # Domain-aware large edge: ratio-like columns (discount/tax,
        # observed max ~0.1) get an in-domain extreme — pushing 1e5
        # into a Decimal(3,2)-bounded column makes BOTH engines abort
        # the cast identically, which tests nothing.
        big = 123456.75 if (observed_max or 0) > 10 else 0.99
        return [0.0, -1.5 if (observed_max or 0) > 10 else 0.01, -0.0, big]
    return [0, -1, 999983]


def mutate_table(name: str, table: pa.Table) -> pa.Table:
    rng = random.Random(f"edge:{name}")
    n = table.num_rows
    pk = set(PK_COLS.get(name, ()))
    cols = {}
    for field in table.schema:
        vals = table.column(field.name).to_pylist()
        if field.name not in pk:
            for i in range(n):
                if rng.random() < NULL_RATE:
                    vals[i] = None
            if pa.types.is_string(field.type):
                pool = EDGE_JSON if name == "events" and field.name == "props" else EDGE_STRINGS
                for j, ev in enumerate(pool):
                    vals[(j * 37 + 11) % n] = ev
            if pa.types.is_integer(field.type) or pa.types.is_floating(field.type):
                omax = max((abs(v) for v in vals if v is not None), default=None)
                for j, ev in enumerate(_edge_numeric(field.type, omax)):
                    vals[(j * 53 + 29) % n] = ev
            if pa.types.is_list(field.type):
                dim = next((len(v) for v in vals if v), 8)
                vals[17 % n] = [0.0] * dim          # zero-norm vector
                vals[41 % n] = []                    # empty vector
                row = [float(k) for k in range(dim)]
                row[0] = None                        # NULL element
                vals[59 % n] = row
                # non-finite elements: pass a bare `norm > 0` in both
                # engines (NaN-greatest comparisons) and poison every
                # cosine in their cluster — the VALID_VEC_GEN 3
                # admission must drop them (r12)
                nanrow = [float(k) for k in range(dim)]
                nanrow[1 % dim] = float("nan")
                vals[71 % n] = nanrow
                infrow = [float(k) for k in range(dim)]
                infrow[2 % dim] = float("inf")
                vals[83 % n] = infrow
                # wrong-DIMENSION vectors (r14): finite and nonzero,
                # so they pass the GEN-3 norm admission — the encoder
                # version-drift / truncated-row shapes that ABORTED
                # k-means training outright (ANSI element_at OOB)
                # until the r14 dim admission; every other similarity
                # path must hold NULL-sim parity on them.
                vals[97 % n] = [1.0] * max(dim // 2, 1)
                vals[113 % n] = [0.5] * (dim + 3)
                vals[131 % n] = [2.0]
        cols[field.name] = pa.array(vals, type=field.type)
    out = pa.table(cols, schema=table.schema)
    # Duplicate-content rows: identical payload, FRESH primary key —
    # exact-dup text/values without violating key uniqueness.
    dup_idx = [i for i in range(n) if rng.random() < DUP_RATE]
    if dup_idx:
        dup = out.take(pa.array(dup_idx))
        for key_col in pk:
            base = max(
                (v for v in table.column(key_col).to_pylist() if v is not None),
                default=0,
            )
            fresh = pa.array(
                [base + 1 + i for i in range(len(dup_idx))],
                type=table.schema.field(key_col).type,
            )
            dup = dup.set_column(
                dup.schema.get_field_index(key_col), key_col, fresh
            )
        out = pa.concat_tables([out, dup])
    return out


def _set_col(table: pa.Table, cname: str, vals: list) -> pa.Table:
    idx = table.schema.get_field_index(cname)
    return table.set_column(
        idx, cname, pa.array(vals, type=table.schema.field(cname).type)
    )


def _hot(vals: list):
    """Deterministic in-domain hot value: the smallest non-NULL, or
    None when the column has no non-NULL values (ADVICE r13: an
    all-NULL column must pass the table through, not ValueError)."""
    return min((v for v in vals if v is not None), default=None)


# Per-query wall-clock bound for the skew sweep (seconds). Normal
# queries run < 5 s at sf0.001; a candidate-pair/occupancy blowup is
# superlinear in the hot-key count and blows far past this.
SKEW_MAX_QUERY_SEC = 120.0


def make_skew(name: str, table: pa.Table) -> pa.Table:
    """Zipf-ify the join/group/bucket keys (VERDICT r12 #5): values
    move to in-domain hot keys, primary keys and contracted value
    columns stay untouched, so every oracle contract still holds and
    a divergence is a real order/skew bug, not noise.

    - events: 40% of rows on ONE user + 20% on 10 warm users (the
      hot-user shape behind salted_skew_aggregation and the
      interval/funnel joins); 50% of rows on one event_type.
    - orders: 40% of rows on one o_custkey (skewed fact->dim join).
    - lineitem: 35%/30% on one l_suppkey/l_partkey.
    - customer: 60% on one c_nationkey (skewed group-by fan-in).
    - documents: 30% of texts share a hot-token tail (token-frequency
      skew for top_tokens/CMS/TF-IDF/boilerplate); n_chars recomputed
      so the stored-length invariant survives.
    - embeddings: 20% of vectors share one direction (tiny
      deterministic jitter) — LSH-bucket / IVF-cluster occupancy
      skew; 60% of labels on one value.
    """
    rng = random.Random(f"skew:{name}")
    n = table.num_rows
    if n == 0:
        return table
    if name == "events":
        uid = table.column("user_id").to_pylist()
        pool = sorted({v for v in uid if v is not None})
        if pool:
            hot, warm = pool[0], (pool[1:11] or pool[:1])
            for i in range(n):
                r = rng.random()
                if r < 0.40:
                    uid[i] = hot
                elif r < 0.60:
                    uid[i] = warm[int(r * 1e6) % len(warm)]
            table = _set_col(table, "user_id", uid)
        et = table.column("event_type").to_pylist()
        hot_type = _hot(et)
        if hot_type is not None:
            for i in range(n):
                if rng.random() < 0.50:
                    et[i] = hot_type
            table = _set_col(table, "event_type", et)
    elif name == "orders":
        ck = table.column("o_custkey").to_pylist()
        hot = _hot(ck)
        if hot is not None:
            for i in range(n):
                if rng.random() < 0.40:
                    ck[i] = hot
            table = _set_col(table, "o_custkey", ck)
    elif name == "lineitem":
        for cname, frac in (("l_suppkey", 0.35), ("l_partkey", 0.30)):
            v = table.column(cname).to_pylist()
            hot = _hot(v)
            if hot is None:
                continue
            for i in range(n):
                if rng.random() < frac:
                    v[i] = hot
            table = _set_col(table, cname, v)
    elif name == "customer":
        nk = table.column("c_nationkey").to_pylist()
        hot = _hot(nk)
        if hot is not None:
            for i in range(n):
                if rng.random() < 0.60:
                    nk[i] = hot
            table = _set_col(table, "c_nationkey", nk)
    elif name == "documents":
        txt = table.column("text").to_pylist()
        tail = " zz hot token" * 8
        for i in range(n):
            if txt[i] is not None and rng.random() < 0.30:
                txt[i] = txt[i] + tail
        table = _set_col(table, "text", txt)
        nch = table.column("n_chars").to_pylist()
        nch = [len(t) if t is not None else c for t, c in zip(txt, nch)]
        table = _set_col(table, "n_chars", nch)
    elif name == "embeddings":
        emb = table.column("embedding").to_pylist()
        dim = next((len(v) for v in emb if v), 8)
        k = 0
        for i in range(n):
            if rng.random() < 0.20:
                if k % 2 == 0:
                    # EXACT duplicates (no jitter): cosine exactly 1.0
                    # — a rank-tie storm that every top-k / near-dup /
                    # centroid assignment must break deterministically
                    # in both engines (r14 tie probe: 101-clique held
                    # parity; this pins it permanently).
                    emb[i] = [1.0 + (j % 101) * 1e-4 for j in range(dim)]
                else:
                    emb[i] = [
                        1.0 + ((k * 37 + j) % 101) * 1e-4 for j in range(dim)
                    ]
                k += 1
        table = _set_col(table, "embedding", emb)
        lbl = table.column("label").to_pylist()
        hot = _hot(lbl)
        if hot is not None:
            for i in range(n):
                if rng.random() < 0.60:
                    lbl[i] = hot
            table = _set_col(table, "label", lbl)
    return table


# Per-query wall-clock bound for the huge-doc sweep (seconds). The
# r13 round-end probe measured the FIXED winnowing at 1.1 s on a
# 20k-token doc and the pre-fix shape at 171 s (a 225k-token doc hung
# outright) — any O(tokens^2) regression in a token-array operator
# blows straight through this bound at 220k tokens.
HUGE_DOC_MAX_QUERY_SEC = 120.0

# (row index, token count) for the injected documents: one past the
# 200k bar the r13 probe hung on, plus a few 20k-token mid-size docs
# so banding/shingling paths see more than a single outlier.
HUGE_DOC_SPECS = [(7, 220_000), (23, 20_000), (47, 20_000), (61, 22_000)]

# (row index, run length) MEGATOKEN documents: a single huge
# whitespace-free run (the scraped-binary / minified-JS shape).
# Tokenization sees ONE giant token, and any unanchored regex with an
# unbounded class scans O(chars) at each of O(chars) start positions
# — the r14 probe hung pii_redaction's email regex outright on the
# 300 KB run (Java backtracking; DuckDB's RE2 stayed linear, so the
# hang was also a cross-engine asymmetry). Second doc embeds the run
# mid-sentence so boundary paths see both shapes.
MEGATOKEN_SPECS = [(89, 300_000), (103, 50_000)]

# Duplicate-flood rate: this share of non-special rows copy row 3's
# text verbatim (the boilerplate/error-page shape — a 30% clique).
# Pair-emitting dedup queries are QUADRATIC in clique size by
# contract (every pair IS a near-dup; r14 probe: the 151-clique's
# 11k pairs computed in ~3 s with parity), and the cluster path
# (dup_clusters_connected) is the linear-output scale answer. The
# flood keeps both under the wall bound permanently.
DUP_FLOOD_RATE = 0.30

_HUGE_VOCAB = (
    "spark shuffle parquet window join filter group order scan merge "
    "hash batch stream state token shard vector index bucket probe "
    "the a of and to in for with on at"
).split()


# Unicode-pathology pool (r16 axis, VERDICT r15 "Next round" #7):
# beyond the edge sweep's multibyte/control-char strings — NFC/NFD
# twins, compatibility characters, conjoining jamo, ZWJ/modifier/flag
# grapheme clusters, astral-plane letters (surrogate pairs on the
# JVM), combining-mark stacks, zero-width and bidi controls inside
# tokens, non-ASCII Unicode whitespace (outside the compared
# [ \t\n\r\f\x0B] class on BOTH engines — must glue, not split), and
# the classic locale-sensitive case-mapping traps (dotted/dotless I,
# sharp s, final sigma). Both engines must agree byte-for-byte on
# UNNORMALIZED input: the engine never normalizes, so the oracle must
# see identical code points flow through tokens/shingles/chunks.
UNICODE_STRINGS = [
    # NFC / NFD twins of the same visual text -- distinct code-point
    # sequences that MUST stay distinct through both engines
    "caf\u00e9 nfc twin",
    "cafe\u0301 nfd twin",
    "\u00c5ngstr\u00f6m nfc",
    "A\u030angstro\u0308m nfd",
    "\u212bngstr\u00f6m compat angstrom",
    # Hangul: precomposed syllables vs conjoining jamo
    "\ud55c\uad6d\uc5b4 hangul composed",
    "\u1112\u1161\u11ab\u1100\u116e\u11a8\u110b\u1165 hangul jamo",
    # grapheme clusters: ZWJ family, skin-tone modifier, flag pair,
    # keycap -- multi-codepoint single graphemes
    "family \U0001f469\u200d\U0001f469\u200d\U0001f467\u200d\U0001f466 zwj",
    "wave \U0001f44b\U0001f3fd tone",
    "flag \U0001f1e9\U0001f1ea pair",
    "key 1\ufe0f\u20e3 cap",
    # astral plane (UTF-16 surrogate pairs on the JVM)
    "math \U0001d54a\U0001d55e\U0001d552\U0001d55d\U0001d55d double-struck",
    "cjkb \U00020bb7\U00020bb8 extb",
    # combining-mark stack (8 marks on one base letter)
    "z\u0301\u0302\u0303\u0304\u0305\u0306\u0307\u0308algo stack",
    # zero-width and bidi controls INSIDE a token
    "zero\u200bwidth\u200cnon\u200djoiners",
    "bidi \u202eevil\u202c override",
    # Unicode whitespace OUTSIDE the compared [ \t\n\r\f\x0B] class --
    # must glue (stay inside one token) in BOTH engines
    "ideographic\u3000space glued",
    "thin\u2009space en\u2002quad glued",
    "line\u2028sep para\u2029sep glued",
    "nel\u0085next-line glued",
    # locale-sensitive case-mapping traps
    "\u0130stanbul dotted \u0131stanbul dotless",
    "STRASSE stra\u00dfe \u1e9e sharp",
    "\u03a3\u03af\u03c3\u03c5\u03c6\u03bf\u03c2 final sigma",
]


def make_unicode(name: str, table: pa.Table) -> pa.Table:
    """Inject the unicode pool into every non-PK string column (the
    mutate_table placement scheme, pure — no NULL/dup noise, so a
    failure isolates to the unicode axis), and give ``documents``
    three LONG unicode documents (the pool tiled with a drifting
    offset) so chunking/shingling/winnowing chew multi-codepoint
    graphemes across window boundaries. ``n_chars`` is recomputed for
    touched document rows (Python/Spark/DuckDB all count code
    points)."""
    pk = set(PK_COLS.get(name, ()))
    n = table.num_rows
    if n == 0:
        return table
    cols = {}
    for field in table.schema:
        vals = table.column(field.name).to_pylist()
        if field.name not in pk and pa.types.is_string(field.type) and not (
            name == "events" and field.name == "props"
        ):
            for j, ev in enumerate(UNICODE_STRINGS):
                vals[(j * 37 + 11) % n] = ev
        cols[field.name] = pa.array(vals, type=field.type)
    out = pa.table(cols, schema=table.schema)
    if name != "documents":
        return out
    txt = out.column("text").to_pylist()
    nch = out.column("n_chars").to_pylist()
    for d, row in enumerate((13, 131, 313)):
        pool = UNICODE_STRINGS[d::2] or UNICODE_STRINGS
        txt[row % n] = " ".join(pool[(k + d) % len(pool)] for k in range(400))
    for j, _ in enumerate(UNICODE_STRINGS):
        i = (j * 37 + 11) % n
        nch[i] = len(txt[i]) if txt[i] is not None else None
    for row in (13, 131, 313):
        nch[row % n] = len(txt[row % n])
    out = _set_col(out, "text", txt)
    return _set_col(out, "n_chars", nch)


def make_huge_docs(name: str, table: pa.Table) -> pa.Table:
    """Overwrite a few ``documents.text`` rows with huge
    deterministic token streams (one >=200k tokens, a few ~20k) and
    recompute the stored ``n_chars`` invariant; every other table
    passes through untouched.

    Rationale (VERDICT r13 "Next round" #2): one megabyte-scale
    document is routine in any 100 TB crawl corpus, and the r13
    round-end probe found two real O(tokens^2) hazards (winnowing's
    per-index re-evaluation, the chunking oracle's LATERAL list
    copies) that no gate guarded. The token stream is seeded per row
    with a drifting vocabulary window so shingles/minhash see
    realistic local repetition without collapsing to one n-gram."""
    if name != "documents":
        return table
    txt = table.column("text").to_pylist()
    nch = table.column("n_chars").to_pylist()
    n = len(txt)
    if n == 0:
        return table
    for row, n_tokens in HUGE_DOC_SPECS:
        rng = random.Random(f"huge:{row}:{n_tokens}")
        v = len(_HUGE_VOCAB)
        toks = [
            _HUGE_VOCAB[(rng.randrange(v) + (k // 997)) % v]
            for k in range(n_tokens)
        ]
        text = " ".join(toks)
        txt[row % n] = text
        nch[row % n] = len(text)
    for i, (row, run_len) in enumerate(MEGATOKEN_SPECS):
        run = "xy"[i % 2] * run_len
        text = run if i == 0 else f"start word {run} end word"
        txt[row % n] = text
        nch[row % n] = len(text)
    special = {row % n for row, _ in HUGE_DOC_SPECS + MEGATOKEN_SPECS} | {3 % n}
    rng = random.Random("hugedoc:dupflood")
    boiler = txt[3 % n]
    if boiler is not None:
        flood = [
            i for i in sorted(rng.sample(range(n), min(int(n * DUP_FLOOD_RATE), n)))
            if i not in special
        ]
        for i in flood:
            txt[i] = boiler
            nch[i] = len(boiler)
    table = _set_col(table, "text", txt)
    return _set_col(table, "n_chars", nch)


# Timestamp columns under the time-edge admission contract
# (parity.admissible_ts): the event stream's ts, plus the warehouse
# date columns whose month/day buckets reach driver output (a
# year-0001 o_orderdate aborted monthly_nation_revenue and
# running_revenue_by_nation exactly like an ancient events.ts).
TIME_EDGE_COLS = {
    "events": "ts",
    "orders": "o_orderdate",
    "lineitem": "l_shipdate",
}


def inject_time_edges(name: str, table: pa.Table) -> pa.Table:
    """Extreme-but-physically-valid timestamps into the contracted
    timestamp columns (TIME_EDGE_COLS) at fixed rows; other tables
    pass through untouched.

    Rationale (same scoping discipline as ``--nonfinite``): epoch-zero
    rows are the canonical parser-failure artifact in any real corpus,
    a far-future row silently poisons every downstream watermark, and
    an ancient row aborts pyspark's client-side datetime conversion at
    collect(). First run of this sweep found 15 failing queries
    (aborts + silent watermark row loss + a PIT-join mislabel); the
    warehouse-date extension found 2 more month-bucket aborts."""
    col = TIME_EDGE_COLS.get(name)
    if col is None:
        return table
    import datetime

    vals = table.column(col).to_pylist()
    n = len(vals)
    edges = [
        datetime.datetime(1970, 1, 1, 0, 0, 0),      # epoch zero (parser bug)
        datetime.datetime(1677, 9, 22, 0, 0, 0),     # near nanos-long min
        datetime.datetime(2262, 4, 10, 0, 0, 0),     # near nanos-long max
        datetime.datetime(2262, 4, 11, 23, 47, 16),  # last nanos second
        datetime.datetime(1, 1, 1, 0, 0, 0),         # datetime.min
        datetime.datetime(9999, 12, 31, 23, 59, 59), # datetime.max
    ]
    for j, ev in enumerate(edges):
        for rep in range(3):  # a few of each, spread across the file
            vals[(j * 97 + rep * 211 + 19) % n] = ev
    idx = table.schema.get_field_index(col)
    return table.set_column(
        idx, col, pa.array(vals, type=table.schema.field(col).type)
    )


def inject_nonfinite(name: str, table: pa.Table) -> pa.Table:
    """NaN / +Inf / -Inf into events.value at fixed rows; every other
    table passes through untouched."""
    if name != "events":
        return table
    vals = table.column("value").to_pylist()
    n = len(vals)
    for j, ev in enumerate((float("nan"), float("inf"), float("-inf"))):
        for rep in range(7):  # a few of each, spread across the file
            vals[(j * 101 + rep * 211 + 13) % n] = ev
    idx = table.schema.get_field_index("value")
    return table.set_column(
        idx, "value", pa.array(vals, type=table.schema.field("value").type)
    )


# Per-query wall-clock bound for the row-scale sweep (seconds). At
# K=6 over sf0.1 the data is ~sf0.6 — every query must stay inside a
# small multiple of its sf0.1 time. A stage that is superlinear in
# ROW COUNT (as opposed to per-value size, the huge-doc axis) blows
# far past this: sf0.1's slowest query runs ~4 s, so 240 s tolerates
# a full 10x-the-linear-expectation before flagging.
ROW_SCALE_MAX_QUERY_SEC = 240.0

# Tiling factor for --row-scale.
ROW_SCALE_K = 6

# Per-copy key offset. Far above every key the generator emits at
# sf<=1 (sf0.1 maxima: o_orderkey ~6e5, event_id 1e5) and far below
# int64 even at K in the hundreds, so offsets never collide across
# copies and never overflow. orders and lineitem share the stride on
# the orderkey so the FK chain survives inside every copy.
_ROW_SCALE_STRIDE = 10_000_000

# Fact tables tiled K time(s) and the key columns offset per copy so
# each copy is a self-consistent shard. Dimension tables (region,
# nation, customer, supplier, part) pass through UNTOUCHED: their
# fan-out grows K-fold, which is exactly the fixed-dims/growing-facts
# shape of a real scale-up.
_ROW_SCALE_KEYS = {
    "events": ("event_id", "user_id"),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def make_row_scale(name: str, table: pa.Table, k: int = ROW_SCALE_K) -> pa.Table:
    """Tile a fact table into K self-consistent shards (row-COUNT
    scale axis, complementing --huge-doc's per-value-size axis).

    - Key columns get a per-copy offset (same stride everywhere, so
      orders<->lineitem keeps joining inside each copy); offsetting
      user_id too grows USER cardinality K-fold — the axis HLL /
      COUNT(DISTINCT) / dedup actually face at 100 TB.
    - documents.text gets a per-copy tag appended (n_chars invariant
      recomputed): copies stay NEAR-dups (more rows => more near-dup
      structure, realistically) without collapsing into exact-dup
      groups that the exact-dedup path would erase.
    - embeddings get one element nudged per copy: vectors stay
      distinct (no K-clique of cosine-exactly-1 ties masking growth)
      while cosine-near-dup/IVF structure still densifies with K.
    - Timestamps stay untouched: K-fold more rows in the SAME time
      range, which is how event volume actually grows.
    """
    key_cols = _ROW_SCALE_KEYS.get(name)
    if key_cols is None or table.num_rows == 0 or k <= 1:
        return table
    import pyarrow.compute as pc

    copies = [table]
    for c in range(1, k):
        t = table
        for col in key_cols:
            idx = t.schema.get_field_index(col)
            ftype = t.schema.field(col).type
            shifted = pc.add(
                t.column(col), pa.scalar(c * _ROW_SCALE_STRIDE, type=ftype)
            )
            t = t.set_column(idx, col, shifted.cast(ftype))
        if name == "documents":
            txt = t.column("text").to_pylist()
            nch = t.column("n_chars").to_pylist()
            tag = f" rowscale shard {c}"
            for i, x in enumerate(txt):
                if x is not None:
                    txt[i] = x + tag
                    nch[i] = len(txt[i])
            t = _set_col(t, "text", txt)
            t = _set_col(t, "n_chars", nch)
        if name == "embeddings":
            emb = t.column("embedding").to_pylist()
            for i, v in enumerate(emb):
                if v:
                    j = c % len(v)
                    if v[j] is not None:
                        v[j] = v[j] + 0.001 * c
            t = _set_col(t, "embedding", emb)
        copies.append(t)
    return pa.concat_tables(copies)


def generate(
    src: str, out: str, empty: bool = False, shuffle: bool = False,
    nonfinite: bool = False, skew: bool = False, time_edge: bool = False,
    huge_doc: bool = False, row_scale: bool = False,
    row_scale_k: int = ROW_SCALE_K, unicode_mode: bool = False,
) -> None:
    outp = Path(out)
    outp.mkdir(parents=True, exist_ok=True)
    for p in sorted(Path(src).glob("*.parquet")):
        t = pq.read_table(p)
        if empty:
            m = t.slice(0, 0)
        elif shuffle:
            idx = list(range(t.num_rows))
            random.Random(f"shuffle:{p.stem}").shuffle(idx)
            m = t.take(pa.array(idx))
        elif nonfinite:
            m = inject_nonfinite(p.stem, t)
        elif skew:
            m = make_skew(p.stem, t)
        elif time_edge:
            m = inject_time_edges(p.stem, t)
        elif huge_doc:
            m = make_huge_docs(p.stem, t)
        elif row_scale:
            m = make_row_scale(p.stem, t, k=row_scale_k)
        elif unicode_mode:
            m = make_unicode(p.stem, t)
        else:
            m = mutate_table(p.stem, t)
        pq.write_table(m, outp / p.name)
        print(f"  {p.stem}: {t.num_rows} -> {m.num_rows} rows")


# Regexes (word-boundary anchored, lowercase) of order-sensitive
# semantics (ADVICE r12: plain substring matching over-matched words
# like 'delimit'/'unlimited' and missed list/string aggregations
# spelled array_agg/group_concat/listagg). Window ranking and
# analytic offsets, LIMIT (tie exposure), first/last and arg-min/max
# picks, collected lists (collect_list and DuckDB list()/array_agg),
# string aggregation, and positional folds (F.aggregate / DuckDB
# reduce). Matching BOTH the oracle text and the query fn's own
# source keeps the derivation two-sided: SQL-expressible sensitivity
# shows in the oracle, Spark-side constructs (collect_list, F.first)
# show in the source.
_ORDER_MARKERS = tuple(
    re.compile(p)
    for p in (
        r"\brow_number\b", r"\brank\s*\(", r"\bntile\b", r"\blag\s*\(",
        r"\blead\s*\(", r"\blimit\b", r"\bfirst\s*\(", r"\blast\s*\(",
        r"\bmin_by\b", r"\bmax_by\b", r"\barg_min\b", r"\barg_max\b",
        r"\b\w*list\w*\s*\(",  # list( / collect_list( / list_transform(
        r"\barray_agg\b", r"\bgroup_concat\b", r"\blistagg\b",
        r"\bstring_agg\b", r"\baggregate\s*\(", r"\breduce\s*\(",
        # cumulative/running windows (the old list caught these only
        # by the 'ntile'-in-'quantile' over-match): Spark rowsBetween
        # / unboundedPreceding, SQL ROWS ... UNBOUNDED PRECEDING
        r"\browsbetween\b", r"\bunboundedpreceding\b",
        r"\bunbounded\s+preceding\b",
    )
)


def order_sensitive_names() -> list[str]:
    """Derive the order-sensitive query subset from the live registry."""
    import inspect

    sys.path.insert(0, "/root/repo")
    from streaming_data_lake_spark.queries import all_queries

    out = []
    for name, q in all_queries().items():
        hay = q.oracle.lower()
        try:
            hay += inspect.getsource(q.fn).lower()
        except (OSError, TypeError):
            pass
        if any(m.search(hay) for m in _ORDER_MARKERS):
            out.append(name)
    return out


def main() -> int:
    argv = sys.argv[1:]
    gen_only = "--gen-only" in argv
    empty = "--empty" in argv
    shuffle = "--shuffle" in argv
    nonfinite = "--nonfinite" in argv
    skew = "--skew" in argv
    time_edge = "--time-edge" in argv
    huge_doc = "--huge-doc" in argv
    row_scale = "--row-scale" in argv
    unicode_mode = "--unicode" in argv
    order_sensitive = "--order-sensitive" in argv
    argv = [a for a in argv if a not in (
        "--gen-only", "--empty", "--shuffle", "--nonfinite", "--skew",
        "--time-edge", "--huge-doc", "--row-scale", "--unicode",
        "--order-sensitive",
    )]

    def _flag(name, default):
        if name in argv:
            i = argv.index(name)
            v = argv[i + 1]
            del argv[i : i + 2]
            return v
        return default

    # Row-scale defaults to the LARGEST driver sf: superlinear-in-rows
    # shapes separate from noise best at the biggest base volume.
    src = _flag("--src", "/root/testdata/sf0.1" if row_scale else SRC_DEFAULT)
    # --scale-k N overrides the tiling factor (row-scale only): the
    # on-demand scaling-curve probe runs K=12 over sf0.1 (~sf1.2) on
    # the heavy families for a second doubling data point.
    row_scale_k = int(_flag("--scale-k", str(ROW_SCALE_K)))
    kind = (
        "empty" if empty else
        "shuffle" if shuffle else
        "nonfinite" if nonfinite else
        "skew" if skew else
        "time-edge" if time_edge else
        "huge-doc" if huge_doc else
        "row-scale" if row_scale else
        "unicode" if unicode_mode else
        "edge"
    )
    out = _flag("--out", {
        "empty": "/tmp/sdl_empty",
        "shuffle": "/tmp/sdl_shuffle",
        "nonfinite": "/tmp/sdl_nonfinite",
        "skew": "/tmp/sdl_skew",
        "time-edge": "/tmp/sdl_timeedge_sweep",
        "huge-doc": "/tmp/sdl_hugedoc",
        "row-scale": "/tmp/sdl_rowscale",
        "unicode": "/tmp/sdl_unicode",
        "edge": OUT_DEFAULT,
    }[kind])
    print(f"generating {kind} tables {src} -> {out}")
    generate(
        src, out, empty=empty, shuffle=shuffle, nonfinite=nonfinite, skew=skew,
        time_edge=time_edge, huge_doc=huge_doc, row_scale=row_scale,
        row_scale_k=row_scale_k, unicode_mode=unicode_mode,
    )
    if gen_only:
        return 0
    if order_sensitive and not argv:
        argv = sorted(order_sensitive_names())
        print(f"order-sensitive subset ({len(argv)} derived): {' '.join(argv)}")
    cmd = [sys.executable, "tools/check.py", out, *argv]
    print("running:", " ".join(cmd))
    bounded = (
        ("SKEW", SKEW_MAX_QUERY_SEC) if skew else
        ("HUGE-DOC", HUGE_DOC_MAX_QUERY_SEC) if huge_doc else
        ("ROW-SCALE", ROW_SCALE_MAX_QUERY_SEC) if row_scale else
        None
    )
    if bounded is None:
        return subprocess.call(cmd, cwd="/root/repo")
    # Bounded-runtime sweeps (skew, huge-doc): parity AND wall-clock.
    # A hot key / megabyte document must not blow up candidate pairs,
    # shard occupancy, or a per-token lambda into a superlinear stage
    # — the failure mode that kills a 100 TB job even when the answer
    # would eventually be right. check.py prints per-query wall
    # times; any query over the bound fails the sweep.
    label, max_sec = bounded
    proc = subprocess.Popen(
        cmd, cwd="/root/repo", stdout=subprocess.PIPE, text=True
    )
    slow: list[str] = []
    assert proc.stdout is not None
    for line in proc.stdout:
        print(line, end="")
        m = re.search(r"^(PASS|FAIL) (\S+):.*\[([0-9.]+)s\]", line)
        if m and float(m.group(3)) > max_sec:
            slow.append(f"{m.group(2)} ({m.group(3)}s)")
    rc = proc.wait()
    if slow:
        print(
            f"{label} RUNTIME BLOWUP: {len(slow)} query(ies) over "
            f"{max_sec}s on {label.lower()} data: {', '.join(slow)}"
        )
        return 1
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
