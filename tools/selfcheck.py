#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/selfcheck.py [sf_dir] [out_dir] [--no-spark]

Runs graft.Verify (unless --no-spark and out_dir already populated),
then executes each oracle_sql.json entry in DuckDB over the same
parquet tables and compares: row count, column names (sorted), and a
hash of all values with rows sorted canonically. NOT part of the
library — driver-side python/duckdb only.
"""
import sys, os, json, subprocess, hashlib, glob, threading, time
from pathlib import Path
import duckdb
import pandas as pd

# Per-oracle wall-clock cap. One pathological oracle (r12: the markov
# chained-CTE unroll that DuckDB inlined into exponential re-evaluation)
# must FAIL alone, never hang the whole board. DuckDB connections
# support interrupt(): a watchdog thread fires it after the cap and the
# running execute() raises, which we report as a timeout FAIL.
# Default 120s: the slowest LEGITIMATE oracle at sf0.01 (the recursive
# graph_components CTE) measures ~63s solo; the r12 pathology class
# does not finish in 150s — 120 splits them with margin both ways.
ORACLE_TIMEOUT_S = int(os.environ.get("GRAFT_ORACLE_TIMEOUT_S", "120"))


def run_capped(con, sql, seconds=ORACLE_TIMEOUT_S):
    """Execute sql; raise TimeoutError if it exceeds `seconds`."""
    timed_out = threading.Event()

    def fire():
        timed_out.set()
        con.interrupt()

    watchdog = threading.Timer(seconds, fire)
    watchdog.start()
    t0 = time.monotonic()
    try:
        return con.execute(sql).fetchdf()
    except Exception:
        if timed_out.is_set():
            raise TimeoutError(
                f"oracle exceeded {seconds}s wall clock "
                f"({time.monotonic() - t0:.1f}s elapsed)")
        raise
    finally:
        watchdog.cancel()

# ── Reference oracles for the rows-only gates (r13 verdict item 1) ──
# Each declared-rows-only gate (SparkEntry.rowsOnly) gets a plain-
# Python re-derivation here: the deterministic DPs are replayed
# exactly (integer or same-order IEEE arithmetic → value-for-value
# compare), the sketches get an independent bound check against exact
# values DuckDB computes. A reference returns a list of error strings
# (empty = pass). Inputs come from DuckDB over the same parquet views
# the SQL oracles use, so the only "trusted" code is this file.

import math, re, zlib


def _round_half_up(x):
    # Scala math.round semantics for non-negative values (Python's
    # round() is banker's rounding — 0.5 would go DOWN on even)
    return int(math.floor(x + 0.5))


def ref_compression_ratio(got, con, sf_dir):
    """zlib replay: JVM Deflater(6) and Python zlib.compress(-, 6)
    are the same zlib deflate (zlib wrapper, memLevel 8) — verified
    byte-identical on this container. Exact per-doc compare."""
    docs = con.execute("SELECT doc_id, text FROM documents").fetchdf()
    exp = []
    for r in docs.itertuples(index=False):
        data = r.text.encode("utf-8")
        n = len(data)
        c = len(zlib.compress(data, 6))
        ppm = 1000000 if n == 0 else c * 1000000 // n
        exp.append((int(r.doc_id), n, c, ppm))
    exp.sort()
    g = [(int(r.doc_id), int(r.n_bytes), int(r.deflate_bytes),
          int(r.ratio_ppm))
         for r in got.itertuples(index=False)]
    g.sort()
    if g != exp:
        diffs = [(a, b) for a, b in zip(g, exp) if a != b][:3]
        return [f"compression replay mismatch ({len(g)} vs {len(exp)} "
                f"rows); first diffs {diffs}"]
    return []


def _hourly_spine(con):
    return con.execute(
        """WITH c AS (
             SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
                    CAST(count(*) AS BIGINT) AS n
             FROM events GROUP BY 1),
           b AS (SELECT min(h) AS lo, max(h) AS hi FROM c),
           hrs AS (SELECT unnest(generate_series(lo, hi)) AS h FROM b)
           SELECT hrs.h AS h, COALESCE(c.n, 0) AS n
           FROM hrs LEFT JOIN c USING (h) ORDER BY h""").fetchdf()


def ref_bursts(got, con, sf_dir, s=2.0, gamma=1.0):
    """Kleinberg 2-state Viterbi replay (Events.burstIntervals): same
    emission -(c*ln r - r), same gamma*ln n entry cost, same <=/>
    tie-breaks, run over the gap-filled hourly spine."""
    sp = _hourly_spine(con)
    hs = [int(x) for x in sp.h]
    cs = [int(x) for x in sp.n]
    n = len(hs)
    if n == 0:
        return [] if len(got) == 0 else ["expected empty"]
    base = max(sum(cs) / n, 1e-9)
    burst = s * base

    def emit(c, r):
        return -(c * math.log(r) - r)
    enter = gamma * math.log(float(n))
    c0 = emit(cs[0], base)
    c1 = enter + emit(cs[0], burst)
    bp = [[0, 1]] + [[0, 0] for _ in range(n - 1)]
    for i in range(1, n):
        e0, e1 = emit(cs[i], base), emit(cs[i], burst)
        stay0, from1 = c0, c1
        n0 = min(stay0, from1) + e0
        bp[i][0] = 0 if stay0 <= from1 else 1
        stay1, from0 = c1, c0 + enter
        n1 = min(stay1, from0) + e1
        bp[i][1] = 1 if stay1 <= from0 else 0
        c0, c1 = n0, n1
    states = [0] * n
    states[n - 1] = 0 if c0 <= c1 else 1
    for i in range(n - 1, 0, -1):
        states[i - 1] = bp[i][states[i]]
    exp = []
    i = 0
    while i < n:
        if states[i] == 1:
            j = i
            while j < n and states[j] == 1:
                j += 1
            exp.append((hs[i], hs[j - 1], j - i, sum(cs[i:j])))
            i = j
        else:
            i += 1
    g = sorted((int(r.start_h), int(r.end_h), int(r.n_hours),
                int(r.n_events)) for r in got.itertuples(index=False))
    if g == sorted(exp):
        return []
    # epsilon-optimality fallback: Math.log (JVM) and math.log (libm)
    # may differ in the last ulp, which can flip a Viterbi tie and
    # yield a DIFFERENT OPTIMAL path. Accept the gate's answer if the
    # state sequence its intervals imply is well-formed and costs
    # within 1e-6 of the reference optimum.
    hmap = {h: i for i, h in enumerate(hs)}
    states = [0] * n
    for (sh, eh, nh, ne) in g:
        if sh not in hmap or eh not in hmap:
            return [f"burst interval outside the spine: {(sh, eh)}"]
        i, j = hmap[sh], hmap[eh]
        if j - i + 1 != nh or sum(cs[i:j + 1]) != ne:
            return [f"burst interval internals wrong: {(sh, eh, nh, ne)}"]
        for t in range(i, j + 1):
            states[t] = 1
    # maximality: adjacent intervals would have been merged
    for k in range(1, len(g)):
        if hmap[g[k][0]] == hmap[g[k - 1][1]] + 1:
            return [f"non-maximal adjacent intervals: {g[k - 1]}, {g[k]}"]

    def seq_cost(st):
        c = enter if st[0] == 1 else 0.0
        c += emit(cs[0], burst if st[0] == 1 else base)
        for t in range(1, n):
            if st[t] == 1 and st[t - 1] == 0:
                c += enter
            c += emit(cs[t], burst if st[t] == 1 else base)
        return c
    opt = min(c0, c1)
    got_cost = seq_cost(states)
    if abs(got_cost - opt) <= 1e-6 * max(1.0, abs(opt)):
        return []
    return [f"burst intervals mismatch beyond log-ulp tolerance: "
            f"spark={g} ref={sorted(exp)} "
            f"(cost {got_cost} vs optimum {opt})"]


def _dtw(a, b):
    """Exact BIGINT DTW DP (functions/Dtw.compute replay)."""
    n, m = len(a), len(b)
    if n == 0 and m == 0:
        return 0
    if n == 0:
        return sum(abs(x) for x in b)
    if m == 0:
        return sum(abs(x) for x in a)
    prev = [0] * m
    acc = 0
    for j in range(m):
        acc += abs(a[0] - b[j])
        prev[j] = acc
    for i in range(1, n):
        cur = [prev[0] + abs(a[i] - b[0])] + [0] * (m - 1)
        for j in range(1, m):
            cur[j] = min(cur[j - 1], prev[j], prev[j - 1]) \
                + abs(a[i] - b[j])
        prev = cur
    return prev[m - 1]


def ref_dtw_profiles(got, con, sf_dir):
    prof = con.execute(
        """SELECT event_type, CAST(date_part('hour', ts) AS BIGINT) AS hod,
                  CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2""").fetchdf()
    profiles = {}
    for r in prof.itertuples(index=False):
        profiles.setdefault(r.event_type, [0] * 24)[int(r.hod)] = int(r.n)
    types = sorted(profiles)
    exp = []
    for i, ta in enumerate(types):
        for tb in types[i + 1:]:
            exp.append((ta, tb, _dtw(profiles[ta], profiles[tb])))
    exp.sort(key=lambda t: (t[2], t[0], t[1]))
    g = [(r.type_a, r.type_b, int(r.dtw_dist))
         for r in got.itertuples(index=False)]
    g.sort(key=lambda t: (t[2], t[0], t[1]))
    if g != exp:
        return [f"dtw mismatch: spark={g} ref={exp}"]
    return []


def _bpe_vocab(con):
    df = con.execute(
        """WITH toks AS (
             SELECT unnest(string_split_regex(trim(text), ' +')) AS w
             FROM documents)
           SELECT w, CAST(count(*) AS BIGINT) AS f
           FROM toks WHERE length(w) > 0 GROUP BY w""").fetchdf()
    return [(list(r.w), int(r.f)) for r in df.itertuples(index=False)]


def _bpe_merge_word(syms, a, b):
    """Exhaustive left-to-right non-overlapping merge of (a, b)."""
    out = []
    j = 0
    while j < len(syms):
        if j + 1 < len(syms) and syms[j] == a and syms[j + 1] == b:
            out.append(a + b)
            j += 2
        else:
            out.append(syms[j])
            j += 1
    return out


def _bpe_train(con, k, min_freq=2):
    """Bpe.trainMerges replay: per round, pair census weighted by word
    frequency; top-1 by (freq DESC, a ASC, b ASC); rewrite."""
    words = _bpe_vocab(con)
    merges = []
    for rank in range(1, k + 1):
        census = {}
        for syms, f in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                census[p] = census.get(p, 0) + f
        if not census:
            break
        (a, b), f = min(census.items(),
                        key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if f < min_freq:
            break
        words = [(_bpe_merge_word(s, a, b), wf) for s, wf in words]
        merges.append((rank, a, b, a + b, f))
    return merges


def ref_bpe_train(got, con, sf_dir):
    exp = _bpe_train(con, 24)
    g = [(int(r.rank), r.left, r.right, r.merged, int(r.freq))
         for r in got.itertuples(index=False)]
    g.sort()
    if g != exp:
        diffs = [(x, y) for x, y in zip(g, exp) if x != y][:3]
        return [f"bpe merge table mismatch ({len(g)} vs {len(exp)} "
                f"rows); first diffs {diffs}"]
    return []


def ref_bpe_encode(got, con, sf_dir):
    merges = [(m[1], m[2]) for m in _bpe_train(con, 16)]

    memo = {}

    def encode(word):
        if word not in memo:
            syms = list(word)
            for a, b in merges:
                if len(syms) < 2:
                    break
                syms = _bpe_merge_word(syms, a, b)
            memo[word] = syms
        return memo[word]

    docs = con.execute("SELECT doc_id, text FROM documents").fetchdf()
    exp = []
    for r in docs.itertuples(index=False):
        ws = [w for w in re.split(" +", r.text.strip(" ")) if w]
        toks = [t for w in ws for t in encode(w)]
        exp.append((int(r.doc_id), len(ws), len(toks), len(set(toks))))
    exp.sort()
    g = sorted((int(r.doc_id), int(r.n_words), int(r.n_bpe),
                int(r.n_bpe_distinct)) for r in got.itertuples(index=False))
    if g != exp:
        diffs = [(x, y) for x, y in zip(g, exp) if x != y][:3]
        return [f"bpe encode mismatch ({len(g)} vs {len(exp)} rows); "
                f"first diffs {diffs}"]
    return []


def _sketch_row_checks(got, exacts, bound_ppm=50000):
    """Shared audit for the sketch gates: the exact_value column must
    equal the independent DuckDB exact, err_ppm must be internally
    consistent with the row's own approx/exact, within_bound must
    hold, and the approx must sit within the bound of the DUCKDB
    exact (the independent check a same-engine re-run can't fake)."""
    errs = []
    seen = set()
    for r in got.itertuples(index=False):
        key = r[0]
        seen.add(key)
        if key not in exacts:
            errs.append(f"unexpected row {key!r}")
            continue
        e_ref = exacts[key]
        a, e = float(r.approx_value), float(r.exact_value)
        if abs(e - e_ref) > 1e-6:
            errs.append(f"{key}: exact_value {e} != reference {e_ref}")
        want_ppm = 0 if e == 0 else _round_half_up(abs(a - e) / e * 1e6)
        if int(r.err_ppm) != want_ppm:
            errs.append(f"{key}: err_ppm {r.err_ppm} != recomputed {want_ppm}")
        if bool(r.within_bound) != (want_ppm <= bound_ppm):
            errs.append(f"{key}: within_bound inconsistent")
        if e_ref != 0 and abs(a - e_ref) / e_ref > bound_ppm / 1e6:
            errs.append(f"{key}: approx {a} outside {bound_ppm}ppm of "
                        f"reference exact {e_ref}")
    missing = set(exacts) - seen
    if missing:
        errs.append(f"missing rows {sorted(missing)}")
    return errs


def ref_profile_approx(got, con, sf_dir):
    row = con.execute(
        """SELECT count(DISTINCT doc_id), count(DISTINCT source),
                  count(DISTINCT n_chars),
                  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)
                       AS DOUBLE),
                  CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY n_chars)
                       AS DOUBLE)
           FROM documents""").fetchone()
    exacts = {"hll_distinct_doc_id": float(row[0]),
              "hll_distinct_source": float(row[1]),
              "hll_distinct_n_chars": float(row[2]),
              "approx_p50_n_chars": row[3],
              "approx_p99_n_chars": row[4]}
    return _sketch_row_checks(got, exacts)


def ref_hll_merge(got, con, sf_dir):
    per = con.execute(
        """SELECT lang, CAST(count(DISTINCT doc_id) AS DOUBLE)
           FROM documents GROUP BY lang""").fetchall()
    exacts = {lang: e for lang, e in per}
    exacts["global(merged)"] = sum(exacts.values())
    return _sketch_row_checks(got, exacts)


def ref_shapley_sampled(got, con, sf_dir,
                        channels=("click", "error", "signup", "view"),
                        n_perms=200):
    """Full-estimator replay of Analytics.shapleyAttributionSampled:
    same md5("i:channel") permutation family, same converting-user
    mask frame (from DuckDB), same exact-integer marginals and
    m^(3/2) standard error."""
    import hashlib
    chs = sorted(channels)
    power = {c: 1 << i for i, c in enumerate(chs)}
    mask_case = " ".join(f"WHEN '{c}' THEN {power[c]}" for c in chs)
    masks = [int(m) for (m,) in con.execute(
        f"""SELECT coalesce(CAST(sum(DISTINCT
                CASE event_type {mask_case} ELSE NULL END) AS BIGINT), 0)
            FROM events GROUP BY user_id
            HAVING max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                       END) = 1""").fetchall()]

    def v(s):
        return sum(1 for m in masks if (m & s) == m)

    vmemo = {}

    def vm(s):
        if s not in vmemo:
            vmemo[s] = v(s)
        return vmemo[s]

    sums = {c: 0 for c in chs}
    sqs = {c: 0 for c in chs}
    for i in range(1, n_perms + 1):
        perm = sorted(chs, key=lambda c: (
            hashlib.md5(f"{i}:{c}".encode()).hexdigest(), c))
        acc = 0
        for c in perm:
            d = vm(acc | power[c]) - vm(acc)
            sums[c] += d
            sqs[c] += d * d
            acc |= power[c]
    m = n_perms

    def div_trunc(a, b):
        # Spark `div` truncates toward zero; Python // floors
        return -((-a) // b) if a < 0 else a // b

    exp = []
    for c in chs:
        var_num = m * sqs[c] - sums[c] * sums[c]
        se = _round_half_up(math.sqrt(var_num) / (m * math.sqrt(m)) * 1e6)
        exp.append((c, m, sums[c], sqs[c],
                    div_trunc(sums[c] * 1000000, m), var_num, se))
    exp.sort()
    g = sorted((r.channel, int(r.n_perms), int(r.phi_sum),
                int(r.phi_sq_sum), int(r.mean_micro), int(r.var_num),
                int(r.se_micro)) for r in got.itertuples(index=False))
    if g != exp:
        diffs = [(x, y) for x, y in zip(g, exp) if x != y][:3]
        return [f"sampled-shapley replay mismatch; first diffs {diffs}"]
    return []


def ref_kmeans_quantizer(got, con, sf_dir):
    """Bit-exact replay of Similarity.kmeansCentroidsOf (k=16,
    sampleMax=4096, iters=10). The trainer is driver-side
    deterministic — vec_id-sorted sample, left-to-right float
    accumulation, first-k-distinct seeding, fixed iteration count —
    and IEEE-754 binary64 +, *, /, sqrt are correctly rounded in both
    the JVM and CPython, so replaying the same operation ORDER yields
    the same doubles, and the final float32 cast (round-to-nearest-
    even in both) the same floats. Exact compare, the zlib-parity
    precedent. numpy dot is deliberately NOT used: its pairwise
    summation changes the accumulation order."""
    import math
    import numpy as np
    k, sample_max, iters = 16, 4096, 10
    rows = con.execute(
        "SELECT vec_id, embedding FROM embeddings "
        f"WHERE vec_id < {sample_max} ORDER BY vec_id").fetchall()
    sample = []
    for _, emb in rows:
        v = [float(x) for x in emb]  # float32 -> exact double
        n = 0.0
        for x in v:
            n += x * x
        n = math.sqrt(n)
        sample.append(v if n == 0.0 else [x / n for x in v])
    if not sample:
        return ["empty sample"]
    dim = len(sample[0])

    def renorm(c):
        n = 0.0
        for x in c:
            n += x * x
        n = math.sqrt(n)
        return c if n == 0.0 else [x / n for x in c]

    seen, seeds = set(), []
    for v in sample:
        t = tuple(v)
        if t not in seen:
            seen.add(t)
            seeds.append(v)
    if len(seeds) < k:
        return [f"only {len(seeds)} distinct sample vectors < k={k}"]
    cents = [list(c) for c in seeds[:k]]
    for _ in range(iters):
        assign = []
        for p in sample:
            best, best_c = float("-inf"), 0
            for ci in range(k):
                c = cents[ci]
                dot = 0.0
                for i in range(dim):
                    dot += p[i] * c[i]
                if dot > best:
                    best, best_c = dot, ci
            assign.append(best_c)
        new = []
        for ci in range(k):
            mine = [i for i, a in enumerate(assign) if a == ci]
            if not mine:
                new.append(cents[ci])
                continue
            s = [0.0] * dim
            for pi in mine:
                v = sample[pi]
                for i in range(dim):
                    s[i] += v[i]
            m = len(mine)
            new.append(renorm([x / m for x in s]))
        cents = new
    # Gate emits SCALAR rows (cell_id, dim, value) — the codebook
    # flattened so the board harness can sort it (r15 red-row fix).
    exp = {(ci, d): np.float32(x)
           for ci, c in enumerate(cents) for d, x in enumerate(c)}
    g = {(int(r.cell_id), int(r.dim)): np.float32(r.value)
         for r in got.itertuples(index=False)}
    if set(g) != set(exp):
        extra = sorted(set(g) - set(exp))[:3]
        miss = sorted(set(exp) - set(g))[:3]
        return [f"(cell,dim) key mismatch; extra {extra} missing {miss}"]
    errs = []
    for key in sorted(exp):
        if g[key] != exp[key] and not (np.isnan(g[key]) and np.isnan(exp[key])):
            errs.append(f"cell {key[0]} dim {key[1]}: got {g[key]!r} "
                        f"want {exp[key]!r}")
            if len(errs) >= 5:
                break
    return errs


REFERENCES = {
    "text_compression_ratio": ref_compression_ratio,
    "sim_kmeans_quantizer": ref_kmeans_quantizer,
    "analytics_attribution_shapley_sampled": ref_shapley_sampled,
    "events_bursts": ref_bursts,
    "events_dtw_profiles": ref_dtw_profiles,
    "text_bpe_train": ref_bpe_train,
    "text_bpe_encode": ref_bpe_encode,
    "profile_approx": ref_profile_approx,
    "profile_hll_merge": ref_hll_merge,
}

# absolute, since sbt runs from the checkout rather than the caller's cwd
# the flag may stand anywhere; the positionals are what is left
no_spark = "--no-spark" in sys.argv[1:]
sys.argv[1:] = [a for a in sys.argv[1:] if a != "--no-spark"]
sf_dir = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
out_dir = os.path.abspath(sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out")

if not no_spark:
    # the checkout this script sits in; SPARK_GRAFT_CPUS passes through
    # from the caller's environment (Verify defaults to the host's cores)
    r = subprocess.run(
        ["sbt", f'runMain graft.Verify {sf_dir} {out_dir}'],
        cwd=Path(__file__).resolve().parents[1], capture_output=True,
        text=True, timeout=3000)
    if r.returncode != 0:
        print(r.stdout[-4000:]); print(r.stderr[-4000:])
        sys.exit("sbt runMain graft.Verify failed")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    p = f"{sf_dir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")


def canon(df: pd.DataFrame) -> tuple:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if v is None or (isinstance(v, float) and pd.isna(v)):
                vals.append("NULL")
            elif isinstance(v, float):
                # no .0-trimming: the driver's canon keeps int vs float
                # distinct (BIGINT 3344 != HUGEINT->float 3344.0), so an
                # oracle that forgets a CAST must fail HERE too
                vals.append(f"{v:.6f}")
            elif hasattr(v, "isoformat"):
                vals.append(str(pd.Timestamp(v)))
            elif isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
                vals.append("[" + ",".join(f"{float(x):.5f}" for x in v) + "]")
            else:
                vals.append(str(v))
        rows.append("\x01".join(vals))
    rows.sort()
    h = hashlib.sha256("\x02".join(rows).encode()).hexdigest()[:16]
    return len(df), list(df.columns), h


fails = []
names = sorted(d for d in os.listdir(out_dir)
               if os.path.isdir(os.path.join(out_dir, d)))
# every declared query must have spark output — a query that threw
# inside Verify would otherwise vanish silently (rows-only ones too)
declared = set(oracle)
qman = os.path.join(out_dir, "queries.json")
if os.path.exists(qman):
    declared |= set(json.load(open(qman)))
for missing in sorted(declared - set(names)):
    fails.append(missing)
    print(f"FAIL {missing}: declared but no spark output")
for name in names:
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        fails.append(name); print(f"FAIL {name}: no spark output"); continue
    got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    if name not in oracle:
        if name in REFERENCES:
            try:
                errs = REFERENCES[name](got, con, sf_dir)
            except Exception as e:
                errs = [f"reference oracle raised {type(e).__name__}: {e}"]
            if errs:
                fails.append(name)
                for m in errs[:5]:
                    print(f"FAIL {name}: {m}")
            else:
                print(f"ok   {name}: reference ({len(got)} rows)")
        else:
            print(f"ok   {name}: rows-only ({len(got)} rows)")
            if len(got) == 0:
                fails.append(name); print(f"FAIL {name}: 0 rows")
        continue
    try:
        # HUGEINT tripwire (exact-typed twin of EntryConsistencySpec's
        # textual lint): DuckDB widens uncast sum(BIGINT) to HUGEINT,
        # which fetchdf() hands back as float64 — a hash mismatch on
        # identical values. Reject the dtype itself so the class can't
        # reach the compare.
        desc = run_capped(con, f"DESCRIBE {oracle[name]}")
        huge = [c for c, t in zip(desc["column_name"], desc["column_type"])
                if "HUGEINT" in str(t)]
        if huge:
            fails.append(name)
            print(f"FAIL {name}: oracle columns {huge} are HUGEINT "
                  f"(uncast integer sum — add CAST(... AS BIGINT))")
            continue
        exp = run_capped(con, oracle[name])
    except TimeoutError as e:
        fails.append(name); print(f"FAIL {name}: {e}"); continue
    except Exception as e:
        fails.append(name); print(f"FAIL {name}: duckdb error {e}"); continue
    (gn, gc, gh), (en, ec, eh) = canon(got), canon(exp)
    if (gn, gc, gh) == (en, ec, eh):
        print(f"ok   {name}: {gn} rows hash={gh}")
    else:
        fails.append(name)
        print(f"FAIL {name}: spark(rows={gn},cols={gc},h={gh}) vs "
              f"duck(rows={en},cols={ec},h={eh})")
        if gc == ec and gn == en:
            g = got.reindex(sorted(got.columns), axis=1).sort_values(gc).reset_index(drop=True)
            e = exp.reindex(sorted(exp.columns), axis=1).sort_values(ec).reset_index(drop=True)
            for c in gc:
                if not g[c].astype(str).equals(e[c].astype(str)):
                    diff = (g[c].astype(str) != e[c].astype(str))
                    i = diff.idxmax()
                    print(f"  first diff col={c} row={i}: "
                          f"spark={g[c][i]!r} duck={e[c][i]!r} ({diff.sum()} rows differ)")

print(f"\n{len(names) - len(fails)}/{len(names)} queries pass")
sys.exit(1 if fails else 0)
