"""Inputs and expected answers, derived without the engine under test.

Search counts come from the seeded corpus generator, ``detokenize`` and the
reference wildcard matcher; curate answers from the DuckDB oracles in
``__spark_entry__.oracle_sql()`` and, for the MinHash pairs, an exact
Jaccard recomputation in Python.
"""

from __future__ import annotations

import os
import random
import re
import tempfile
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np

# docs_minhash_pairs in __spark_entry__ runs minhash_lsh_pairs at this
# threshold with its default word 3-gram shingles
MINHASH_THRESHOLD = 0.05
MINHASH_NGRAM = 3


def _meta(seed: int):
    from clpspark.corpus import build_vocab

    return build_vocab(seed)


def raw_log_bytes(corpus_path: str, seed: int) -> int:
    """bench.py's raw size: detokenized bytes plus one newline per row."""
    import pyarrow.parquet as pq

    lens = np.array([len(p.encode("utf-8")) for p in _meta(seed).vocab],
                    dtype=np.int64)
    tokens = pq.read_table(corpus_path, columns=["tokens"]).column("tokens")
    flat = tokens.combine_chunks().values.to_numpy(zero_copy_only=False)
    return int(lens[flat].sum()) + len(tokens)


# ------------------------------------------------------------------- search

# Query classes. A run leaves about 12 s for the loop and a query takes
# about a second at this archive size, so the loop is 10 queries, 3 of them
# unpruned. Patterns are fixed so that every seed
# runs the same mix of work; the seed draws the variables, the time windows
# and the order.
LOGTYPE_PATTERNS = [
    "* INFO heartbeat seq * ok",
    "* INFO wrote * bytes to *",
]
COUNT_BY_TIME_PATTERNS = [
    "* WARN Failed to allocate * MB on node *",
]
# wildcards inside tokens: no exact token to probe, so nothing is pruned
UNPRUNED_PATTERNS = [
    "*checksum*verified*",
    "*Connection*refused*",
    "*cache*shard*",
]
N_DICTVAR = 2
N_INTVAR = N_TIMERANGE = 1
# (constant piece after the timestamp, token index) of variable slots with
# a delimiter on both sides, per corpus template (clpspark.corpus.TEMPLATES)
DICT_SLOTS = [(0, 2), (10, 2), (5, 2)]
INT_SLOTS = [(0, 4), (22, 2), (16, 2), (3, 2), (5, 4), (18, 2)]
N_PLAIN_INTS = 1400  # build_vocab's first ints are plain str(int)
WINDOW_SHARE = 0.05
_DICT_VAR = re.compile(r"(?=.*[A-Za-z])(?=.*[0-9])[A-Za-z0-9_.\-]+")


@dataclass(frozen=True)
class Query:
    cls: str
    text: str
    kind: str = "search"  # or "count_by_time"
    tge: int | None = None
    tle: int | None = None


class SearchCorpus:
    """The seeded corpus as lines plus each line's timestamp (epoch ms)."""

    def __init__(self, n_rows: int, seed: int):
        from clpspark.corpus import detokenize, generate_pdf

        self.meta = meta = _meta(seed)
        pdf = generate_pdf(np.arange(n_rows), meta, seed=seed)
        self.doc_ids = pdf["doc_id"].tolist()
        self.tokens = [t.tolist() for t in pdf["tokens"]]
        self.lines = [detokenize(t, meta.vocab) for t in self.tokens]
        ts_ms = {}
        for tok in range(meta.off_ts, meta.off_ts + meta.n_ts):
            dt = datetime.strptime(meta.vocab[tok], "%Y-%m-%d %H:%M:%S.%f")
            ts_ms[tok] = int(dt.replace(tzinfo=timezone.utc).timestamp()
                             * 1000 + 0.5)
        self.ts = [ts_ms.get(t[0]) for t in self.tokens]

    def count(self, q: Query) -> int:
        """Lines the query must match: the reference wildcard match over
        the detokenized line, within [tge, tle]; count_by_time drops lines
        without a timestamp. The engine matches the line without its
        timestamp; every query starts with ``*`` and has no fragment that
        can occur inside a timestamp, so both read the same. Lines missing
        a literal fragment of the query cannot match and skip the
        matcher."""
        from clpspark.ref.wildcard import wildcard_match

        frags = [f for f in re.split(r"[*?]", q.text) if f]
        need_ts = (q.kind == "count_by_time" or q.tge is not None
                   or q.tle is not None)
        n = 0
        for line, ts in zip(self.lines, self.ts):
            if need_ts and (ts is None
                            or (q.tge is not None and ts < q.tge)
                            or (q.tle is not None and ts > q.tle)):
                continue
            if all(f in line for f in frags) and wildcard_match(line, q.text):
                n += 1
        return n

    def slot_values(self, slots, accept) -> list[str]:
        out = []
        for toks in self.tokens:
            for const, ix in slots:
                if len(toks) > ix and toks[1] == const and accept(toks[ix]):
                    out.append(self.meta.vocab[toks[ix]])
        return out


def build_queries(corp: SearchCorpus, seed: int) -> list[Query]:
    """The 10 seeded queries: 2 logtype, 2 dictvar, 1 intvar, 1 timerange,
    1 count_by_time and 3 unpruned, in seeded order."""
    rng = random.Random(seed)
    meta = corp.meta
    qs = [Query("logtype", p) for p in LOGTYPE_PATTERNS]

    dict_vars = corp.slot_values(
        DICT_SLOTS, lambda t: bool(_DICT_VAR.fullmatch(meta.vocab[t])))
    freq: dict[str, int] = {}
    for v in dict_vars:
        freq[v] = freq.get(v, 0) + 1
    # the rarest tenth of the dictionary variables in those slots
    ranked = sorted(freq, key=lambda v: (freq[v], v))
    rare = ranked[:max(N_DICTVAR, len(ranked) // 10)]
    qs += [Query("dictvar", f"* {v} *") for v in rng.sample(rare, N_DICTVAR)]

    ints = sorted(set(corp.slot_values(
        INT_SLOTS,
        lambda t: meta.off_int <= t < meta.off_int + N_PLAIN_INTS)))
    qs += [Query("intvar", f"* {v} *") for v in rng.sample(ints, N_INTVAR)]

    stamps = [t for t in corp.ts if t is not None]
    lo, hi = min(stamps), max(stamps)
    width = int((hi - lo) * WINDOW_SHARE)
    for _ in range(N_TIMERANGE):
        start = rng.randint(lo, hi - width)
        qs.append(Query("timerange", "*", tge=start, tle=start + width))

    qs += [Query("count_by_time", p, kind="count_by_time")
           for p in COUNT_BY_TIME_PATTERNS]
    qs += [Query("unpruned", p) for p in UNPRUNED_PATTERNS]
    rng.shuffle(qs)
    return qs


# ------------------------------------------------------------------- curate

@dataclass
class CurateAnswers:
    n_docs: int
    rows: dict[str, tuple[list[str], list[tuple]]]


def curate_answers(sf_dir: str, names: list[str]) -> CurateAnswers:
    """DuckDB oracle rows for every curate query that has one."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        con.execute("SET temp_directory = "
                    f"'{os.path.join(tempfile.gettempdir(), 'duckdb')}'")
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"'{sf_dir}/documents.parquet'")
        n_docs = con.execute("SELECT count(*) FROM documents").fetchone()[0]
        rows = {}
        for name in names:
            if name in sql:
                res = con.execute(sql[name])
                rows[name] = ([d[0] for d in res.description], res.fetchall())
    finally:
        con.close()
    return CurateAnswers(n_docs, rows)


def same_rowset(scols, srows, dcols, drows) -> bool:
    """The row-set comparison tests/test_entry_oracle.py applies: same
    column names, same row count, same order-insensitive canonical rows."""
    from tests.test_entry_oracle import _rowset

    return (sorted(scols) == sorted(dcols) and len(srows) == len(drows)
            and _rowset(srows, scols) == _rowset(drows, dcols))


# docs_text_stats rounds lm_xent to 6 decimals and lm_ppl = exp(lm_xent) to 6
# decimals. Spark and DuckDB sum the per-token log probabilities in different
# orders, so lm_xent can land on the other side of a 6th-decimal rounding
# boundary: one unit apart, and lm_ppl apart by that unit times exp(lm_xent)
# plus its own rounding.
LM_UNIT = 1e-6
_FLOAT_SLACK = 1e-9
LM_COLS = ("lm_xent", "lm_ppl", "lm_bucket")


def _ppl_tol(ppl: float) -> float:
    return ppl * LM_UNIT * (1 + 1e-3) + LM_UNIT + _FLOAT_SLACK


def _lm_thresholds(rows: list[dict]) -> list[float]:
    """The bucket cut points: the highest lm_ppl of the head and middle
    buckets."""
    out = []
    for bucket in ("head", "middle"):
        ppl = [r["lm_ppl"] for r in rows if r["lm_bucket"] == bucket]
        if ppl:
            out.append(max(ppl))
    return out


def same_text_stats(scols, srows, dcols, drows) -> bool:
    """docs_text_stats against its oracle, matched by doc_id: every column
    exact under the row-set canonical form, except that lm_xent may differ
    by one unit in its 6th decimal, lm_ppl by that unit scaled by exp plus
    its own rounding, and lm_bucket only for a document whose oracle lm_ppl
    is near one of the oracle's bucket cut points."""
    from tests.test_entry_oracle import _canon

    if sorted(scols) != sorted(dcols) or len(srows) != len(drows):
        return False
    spark = {r["doc_id"]: r for r in (dict(zip(scols, x)) for x in srows)}
    duck = {r["doc_id"]: r for r in (dict(zip(dcols, x)) for x in drows)}
    if spark.keys() != duck.keys():
        return False
    cuts = _lm_thresholds(list(duck.values()))
    for doc, s in spark.items():
        d = duck[doc]
        if any(_canon(s[c]) != _canon(d[c]) for c in scols if c not in LM_COLS):
            return False
        if s["lm_xent"] is None or d["lm_xent"] is None:
            if any(s[c] != d[c] for c in LM_COLS):
                return False
            continue
        if abs(s["lm_xent"] - d["lm_xent"]) > LM_UNIT + _FLOAT_SLACK:
            return False
        if abs(s["lm_ppl"] - d["lm_ppl"]) > _ppl_tol(max(s["lm_ppl"],
                                                         d["lm_ppl"])):
            return False
        # the document's lm_ppl and the cut point can each move by one
        # tolerance, so a flip needs the document within two of a cut
        if s["lm_bucket"] != d["lm_bucket"] and not any(
                abs(d["lm_ppl"] - t) <= 2 * _ppl_tol(t) for t in cuts):
            return False
    return True


def shingles(text: str | None, n: int = MINHASH_NGRAM) -> set[str]:
    words = (text or "").split()
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def jaccard(a: set, b: set) -> float:
    union = len(a | b)
    return len(a & b) / union if union else 0.0


def minhash_violations(cols, rows, sf_dir: str) -> list[tuple]:
    """MinHash pairs that are not exact pairs at the same threshold and
    shingle size, or whose reported Jaccard is not the exact one."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    sh = {d: shingles(x) for d, x in zip(t.column("doc_id").to_pylist(),
                                          t.column("text").to_pylist())}
    ia, ib, ij = cols.index("a"), cols.index("b"), cols.index("jaccard")
    bad = []
    for r in rows:
        exact = jaccard(sh[r[ia]], sh[r[ib]])
        if exact < MINHASH_THRESHOLD - 1e-9 or abs(exact - r[ij]) > 1e-6:
            bad.append((r[ia], r[ib], r[ij], exact))
    return bad
