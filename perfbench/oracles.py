"""Oracles for the benchmark's outputs, written without ``kamae_spark``.

Each check takes pandas frames that the workload collected after timing
and returns a list of human-readable failures; an empty list means the
output is correct. The recomputations use DuckDB SQL, pandas and numpy
only, so a defect in ``kamae_spark`` cannot hide in its own oracle.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd

# -- shared helpers -----------------------------------------------------------


def _mismatches(sql: str, **frames: pd.DataFrame) -> list[str]:
    """Run a query whose rows are ``(what, n)`` mismatch counts."""
    con = duckdb.connect()
    try:
        for name, df in frames.items():
            con.register(name, df)
        rows = con.execute(sql).fetchall()
    finally:
        con.close()
    return [f"{what}: {n} mismatching rows" for what, n in rows if n]


def _close(a: str, b: str, rtol: float = 1e-9) -> str:
    """SQL predicate: doubles ``a`` and ``b`` agree within ``rtol`` (nulls equal)."""
    return (f"(({a} IS NULL AND {b} IS NULL) OR abs({a} - {b}) <= "
            f"{rtol} * greatest(1.0, abs({b})))")


# -- pit_features -------------------------------------------------------------

# Timestamps arrive as epoch microseconds (BIGINT) so no time zone is
# involved in the comparison.
_PIT_EXPECTED = """
WITH w AS (
  SELECT conv_id, turn_idx, ts,
    lag(text) OVER o AS prev_text,
    lead(text) OVER o AS next_text,
    lag(ts) OVER o AS prev_ts,
    count(turn_idx) OVER (o ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS turns_5,
    avg(turn_idx) OVER (o ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS mean_10,
    sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
      OVER (o ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS role_freq_10,
    last_value(tool IGNORE NULLS)
      OVER (o ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tool_ff,
    CASE WHEN ts - lag(ts) OVER o > 1800 * 1000000 THEN 1 ELSE 0 END AS gap_flag,
    count(turn_idx) OVER (PARTITION BY conv_id) AS conv_len
  FROM turns
  WINDOW o AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
), s AS (
  SELECT *, CAST(sum(gap_flag) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER) AS session_idx
  FROM w
), a AS (
  SELECT t.conv_id, t.turn_idx, max(n.ts) AS ann_ts
  FROM turns t LEFT JOIN ann n ON n.conv_id = t.conv_id AND n.ts <= t.ts
  GROUP BY t.conv_id, t.turn_idx
)
SELECT s.*, s.conv_id || '#' || CAST(s.session_idx AS VARCHAR) AS session_id, a.ann_ts
FROM s JOIN a USING (conv_id, turn_idx)
"""

_PIT_COMPARE = f"""
WITH e AS ({_PIT_EXPECTED}),
j AS (SELECT e.*, o.* EXCLUDE (conv_id, turn_idx)
      FROM e FULL OUTER JOIN (SELECT *, 1 AS o_present FROM out) o USING (conv_id, turn_idx))
SELECT 'rows on one side only', count(*) FILTER (WHERE ts IS NULL OR o_present IS NULL) FROM j
UNION ALL SELECT 'prev_text', count(*) FILTER (WHERE prev_text IS DISTINCT FROM o_prev_text) FROM j
UNION ALL SELECT 'next_text', count(*) FILTER (WHERE next_text IS DISTINCT FROM o_next_text) FROM j
UNION ALL SELECT 'prev_ts', count(*) FILTER (WHERE prev_ts IS DISTINCT FROM o_prev_ts) FROM j
UNION ALL SELECT 'turns_5', count(*) FILTER (WHERE turns_5 IS DISTINCT FROM o_turns_5) FROM j
UNION ALL SELECT 'mean_10', count(*) FILTER (WHERE NOT {_close('mean_10', 'o_mean_10')}) FROM j
UNION ALL SELECT 'role_freq_10', count(*) FILTER (WHERE role_freq_10 IS DISTINCT FROM o_role_freq_10) FROM j
UNION ALL SELECT 'tool_ff', count(*) FILTER (WHERE tool_ff IS DISTINCT FROM o_tool_ff) FROM j
UNION ALL SELECT 'session_idx', count(*) FILTER (WHERE session_idx IS DISTINCT FROM o_session_idx) FROM j
UNION ALL SELECT 'session_id', count(*) FILTER (WHERE session_id IS DISTINCT FROM o_session_id) FROM j
UNION ALL SELECT 'conv_len', count(*) FILTER (WHERE conv_len IS DISTINCT FROM o_conv_len) FROM j
UNION ALL SELECT 'ann_ts_asof', count(*) FILTER (WHERE ann_ts IS DISTINCT FROM o_ann_ts_asof) FROM j
UNION ALL SELECT 'label_asof/score_asof', count(*) FILTER (WHERE
  (ann_ts IS NULL AND (o_label_asof IS NOT NULL OR o_score_asof IS NOT NULL)) OR
  (ann_ts IS NOT NULL AND NOT EXISTS (
     SELECT 1 FROM ann n WHERE n.conv_id = j.conv_id AND n.ts = j.ann_ts
       AND n.label = j.o_label_asof AND n.score = j.o_score_asof))) FROM j
"""

PIT_OUTPUT_COLS = ("prev_text", "next_text", "prev_ts", "turns_5", "mean_10",
                   "role_freq_10", "tool_ff", "session_idx", "session_id",
                   "conv_len", "label_asof", "score_asof", "ann_ts_asof")


def check_pit(turns: pd.DataFrame, ann: pd.DataFrame, out: pd.DataFrame) -> list[str]:
    """Recompute the flagship features for a sample of whole conversations.

    ``turns``: conv_id, turn_idx, role, text, tool, ts (epoch micros);
    ``ann``: conv_id, ts, label, score (every annotation of those
    conversations); ``out``: conv_id, turn_idx and ``PIT_OUTPUT_COLS``
    (timestamps as epoch micros). Integers, strings and timestamps must
    match exactly; the rolling mean within a relative 1e-9. An as-of
    payload may come from any annotation at the matched timestamp,
    since ties between annotations have no order.
    """
    if turns.empty:
        return ["empty oracle sample"]
    o = out.rename(columns={c: f"o_{c}" for c in PIT_OUTPUT_COLS})
    return _mismatches(_PIT_COMPARE, turns=turns, ann=ann, out=o)


# -- encoders (string index, one-hot, standard scale) -------------------------


def check_vocab(label_counts: pd.DataFrame, sample: pd.DataFrame, max_labels: int,
                cat_counts: pd.DataFrame, x: np.ndarray, mean: float,
                stddev: float) -> list[str]:
    """String index, one-hot and standard-scale results against DuckDB.

    ``label_counts`` / ``cat_counts``: (v, n) frequency of every value;
    ``sample``: rows (label, label_idx, cat, cat_oh, x, x_std) of the
    transformed output. The expected index is 1 + the value's position
    in (count desc, value asc) order, 0 for values past ``max_labels``
    (index 0 is the single OOV bucket). ``x`` is the full scaled column.
    """
    fails: list[str] = []
    con = duckdb.connect()
    try:
        con.register("lc", label_counts)
        con.register("cc", cat_counts)
        con.register("s", sample[["label", "label_idx", "cat"]])
        con.register("xs", pd.DataFrame({"x": x}))
        bad, = con.execute(f"""
            WITH r AS (SELECT v, row_number() OVER (ORDER BY n DESC, v ASC) AS rk FROM lc)
            SELECT count(*) FROM s JOIN r ON s.label = r.v
            WHERE s.label_idx IS DISTINCT FROM
                  CASE WHEN r.rk <= {int(max_labels)} THEN CAST(r.rk AS INTEGER) ELSE 0 END
        """).fetchone()
        missing, = con.execute(
            "SELECT count(*) FROM s WHERE label NOT IN (SELECT v FROM lc)").fetchone()
        cat_rank = dict(con.execute(
            "SELECT v, row_number() OVER (ORDER BY n DESC, v ASC) FROM cc").fetchall())
        m, sd = con.execute("SELECT avg(x), stddev_pop(x) FROM xs").fetchone()
    finally:
        con.close()
    if bad or missing:
        fails.append(f"label_idx: {bad} wrong, {missing} labels absent from the counts")
    width = len(cat_rank) + 1
    oh_bad = 0
    for cat, vec in zip(sample["cat"], sample["cat_oh"]):
        want = [0.0] * width
        want[cat_rank[cat]] = 1.0
        oh_bad += list(vec) != want
    if oh_bad:
        fails.append(f"cat_oh: {oh_bad} wrong one-hot vectors")
    if not (math.isclose(mean, m, rel_tol=1e-9, abs_tol=1e-12)
            and math.isclose(stddev, sd, rel_tol=1e-9, abs_tol=1e-12)):
        fails.append(f"scaler stats ({mean}, {stddev}) != DuckDB ({m}, {sd})")
    want = (sample["x"].to_numpy() - m) / sd
    if not np.allclose(sample["x_std"].to_numpy(dtype=float), want, rtol=1e-9, atol=1e-12):
        fails.append("x_std: scaled values differ from (x - mean) / stddev")
    return fails


# -- row-wise config and writer ---------------------------------------------

_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed 64-bit integer (Spark's ``xxhash64``
    of a string column hashes its UTF-8 bytes with seed 42)."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed & _M64,
             (seed - _P1) & _M64]
        while i + 32 <= n:
            for k in range(4):
                v[k] = _round(v[k], int.from_bytes(data[i + 8 * k:i + 8 * k + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for k in range(4):
            h = (((h ^ _round(0, v[k])) * _P1) + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


_OPS = {"eq": lambda a, b: a == b, "lt": lambda a, b: a < b}


def _eval_stage(kind: str, p: dict, cols: dict) -> pd.Series:
    """Reference semantics of one row-wise stage (the kinds wide.py uses)."""
    if kind == "StringCase":
        return cols[p["input_col"]].str.upper()
    if kind == "StringAffix":
        return p.get("prefix", "") + cols[p["input_col"]] + p.get("suffix", "")
    if kind == "StringContains":
        return cols[p["input_cols"][0]].str.contains(p["constant"], regex=False)
    if kind == "IfStatement":
        hit = _OPS[p["condition_operator"]](cols[p["input_cols"][0]],
                                            p["value_to_compare_constant"])
        return hit.map({True: p["result_if_true_constant"],
                        False: p["result_if_false_constant"]})
    if kind == "HashIndex":
        m = p["num_bins"] - 1
        return cols[p["input_col"]].map(lambda s: xxhash64(s.encode()) % m + 1)
    if kind == "Bin":
        x = cols[p["input_col"]]
        out = pd.Series(p["default_label"], index=x.index, dtype=object)
        for op, value, label in reversed(p["conditions"]):
            out = out.mask(_OPS[op](x, value), label)
        return out
    if kind == "DateTimeToUnixTimestamp":
        return (pd.to_datetime(cols[p["input_col"]], utc=True)
                .astype("int64") // 10**9).astype(float)
    if kind == "Log":
        return np.log(cols[p["input_col"]] + p["alpha"])
    if kind == "Round":
        return np.floor(cols[p["input_col"]]).astype(float)
    if kind == "AbsoluteValue":
        return cols[p["input_col"]].abs()
    if kind == "Max":
        return pd.concat([cols[c] for c in p["input_cols"]], axis=1).max(axis=1)
    ins = [cols[c].astype(float) for c in p["input_cols"]]
    if p.get("constant") is not None:
        ins.append(p["constant"])
    acc = ins[0]
    for v in ins[1:]:
        acc = {"Sum": acc + v, "Subtract": acc - v, "Multiply": acc * v}[kind]
    return acc


def eval_wide(config: list[tuple[str, dict]], rows: pd.DataFrame) -> pd.DataFrame:
    """Apply the stages in declared order: an in-place replacement is
    seen by the stages declared after it."""
    cols = {c: rows[c] for c in rows.columns}
    for kind, p in config:
        cols[p["output_col"]] = _eval_stage(kind, p, cols)
    return pd.DataFrame(cols)


def check_wide(config: list[tuple[str, dict]], feature_cols: list[str],
               inputs: pd.DataFrame, written: pd.DataFrame) -> list[str]:
    """Rows read back from one written bucket against a recomputation.

    ``inputs``/``written`` are keyed by (conv_id, turn_idx); ``written``
    holds every column of the output. Strings, integers and booleans
    must match exactly, doubles within a relative 1e-9.
    """
    if inputs.empty:
        return ["empty oracle sample"]
    key = ["conv_id", "turn_idx"]
    want = eval_wide(config, inputs).sort_values(key).reset_index(drop=True)
    got = written.sort_values(key).reset_index(drop=True)
    if len(want) != len(got) or not (want[key].values == got[key].values).all():
        return [f"bucket rows: wrote {len(got)}, expected {len(want)}"]
    fails = []
    for c in [*feature_cols, *(c for c in want.columns if c.startswith("raw"))]:
        w, g = want[c], got[c]
        if w.dtype.kind == "f" or g.dtype.kind == "f":
            ok = np.isclose(g.to_numpy(dtype=float), w.to_numpy(dtype=float),
                            rtol=1e-9, atol=0.0, equal_nan=True)
        else:
            ok = (g.astype(object).to_numpy() == w.astype(object).to_numpy())
        if not ok.all():
            fails.append(f"{c}: {int((~ok).sum())} mismatching rows")
    return fails


def check_lineage(lineage: pd.DataFrame, n_buckets: int) -> list[str]:
    """Each bucket is marked complete exactly once across all runs."""
    done = lineage[lineage["status"] == "complete"]["bucket"].value_counts()
    fails = []
    missing = sorted(set(range(n_buckets)) - set(done.index))
    if missing:
        fails.append(f"lineage: buckets never completed: {missing}")
    twice = sorted(int(b) for b, n in done.items() if n != 1)
    if twice:
        fails.append(f"lineage: buckets completed more than once: {twice}")
    return fails


# -- neardup ------------------------------------------------------------------


def word_bigrams(text: str) -> set[str]:
    words = text.strip().split()
    if len(words) < 2:
        return set(words)
    return {f"{a} {b}" for a, b in zip(words, words[1:])}


def jaccard(a: str, b: str) -> float:
    x, y = word_bigrams(a), word_bigrams(b)
    return len(x & y) / len(x | y)


def lsh_hit_probability(j: float, bands: int, rows: int) -> float:
    return 1.0 - (1.0 - j ** rows) ** bands


def check_minhash(pairs: pd.DataFrame, texts: dict, planted: list[tuple[int, int]],
                  threshold: float, bands: int, rows: int) -> list[str]:
    """Every reported pair verifies at ``threshold`` with the reported
    Jaccard; planted duplicates above the threshold are found at least
    as often as the LSH S-curve predicts, less four standard deviations."""
    fails = []
    bad = 0
    for a, b, jac in pairs[["id_a", "id_b", "jaccard"]].itertuples(index=False):
        true = jaccard(texts[a], texts[b])
        bad += true < threshold or not math.isclose(true, jac, rel_tol=1e-9)
    if bad:
        fails.append(f"minhash: {bad} of {len(pairs)} pairs fail exact verification")
    found = {tuple(sorted(p)) for p in pairs[["id_a", "id_b"]].itertuples(index=False)}
    probs, hits = [], 0
    for a, b in planted:
        j = jaccard(texts[a], texts[b])
        if j >= threshold:
            probs.append(lsh_hit_probability(j, bands, rows))
            hits += (min(a, b), max(a, b)) in found
    mu = sum(probs)
    sd = math.sqrt(sum(p * (1 - p) for p in probs))
    if not probs or hits < mu - 4 * sd:
        fails.append(f"minhash: found {hits} of {len(probs)} planted duplicates, "
                     f"expected about {mu:.1f}")
    return fails


def exact_topk(corpus_ids: np.ndarray, corpus: np.ndarray, query_ids: np.ndarray,
               queries: np.ndarray, k: int) -> dict:
    """Exact cosine top-k per query (self excluded), scores rounded to 6
    places, ties broken by the smaller neighbour id."""
    cn = corpus / np.maximum(np.linalg.norm(corpus, axis=1, keepdims=True), 1e-300)
    out = {}
    for qid, q in zip(query_ids, queries):
        s = np.round(cn @ (q / np.linalg.norm(q)), 6)
        s[corpus_ids == qid] = -np.inf
        order = np.lexsort((corpus_ids, -s))[:k]
        out[qid] = set(corpus_ids[order].tolist())
    return out


def recall_at_k(found: pd.DataFrame, exact: dict) -> float:
    got: dict = {}
    for q, n in found[["query_id", "neighbor_id"]].itertuples(index=False):
        got.setdefault(q, set()).add(n)
    hit = sum(len(got.get(q, set()) & want) for q, want in exact.items())
    return hit / max(1, sum(len(w) for w in exact.values()))
