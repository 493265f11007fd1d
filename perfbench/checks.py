"""Output checks, run after the timed window: medallion_daily against the
generator's ground truth; query_mix against the registry's DuckDB oracle SQL
for every query, plus the generator's ground truth for the six dedup rows.
Each check returns the indices of the ops whose output was wrong, figures
derived from the outputs, and lines to print.
"""
import datetime
import json
import math
import os
import re

import duckdb

from gen import TABLES


def _load(path):
    with open(path) as f:
        return json.load(f)


# ---------------------------------------------------------------- medallion

def medallion(res, inputs, problems):
    truth = _load(os.path.join(inputs, "truth.json"))
    keys = set(truth["distinct_event_keys"])
    gold = {(m, d): (lc, pc, cents / 100, v)
            for m, d, lc, pc, cents, v in truth["gold"]}
    dim = sorted(tuple(r) for r in truth["dim_media"])
    bad, ratios = set(), []
    for u in sorted({o["unit"] for o in res["ops"]}):
        dump = _load(os.path.join(res["dump"], f"life{u}.json"))
        errs = []
        fact = dump["fact_keys"]
        if len(fact) != len(set(fact)):
            errs.append(f"fact_events holds {len(fact) - len(set(fact))} duplicate event_keys")
        if set(fact) != keys:
            errs.append(f"fact_events keys: {len(set(fact) - keys)} unexpected, "
                        f"{len(keys - set(fact))} missing of {len(keys)} served")
        got = {(m, d): (lc, pc, sv, v) for m, d, lc, pc, sv, v in dump["gold"]}
        if got != gold:
            diff = sorted(k for k in gold.keys() | got.keys() if gold.get(k) != got.get(k))
            errs.append(f"gold differs from ground truth on {len(diff)} (media, dt), "
                        f"e.g. {diff[0]}: {got.get(diff[0])} vs {gold.get(diff[0])}")
        if sorted(dump["quarantine"]) != truth["corrupt_pages"]:
            errs.append(f"quarantine holds {len(dump['quarantine'])} pages, "
                        f"{len(truth['corrupt_pages'])} corrupt pages were planted")
        if sorted(tuple(r) for r in dump["dim_media"]) != dim:
            errs.append("dim_media differs from the last metadata served")
        if errs:
            problems.extend(f"lifecycle {u}: {e}" for e in errs)
            bad |= {i for i, o in enumerate(res["ops"]) if o["unit"] == u}
        ratios.append(dump["stored_bytes"] / truth["payload_bytes"])
    notes = [f"ground truth: {len(keys)} event keys served, {len(gold)} (media, dt) "
             f"gold rows, {len(truth['corrupt_pages'])} corrupt pages planted, "
             f"{truth['pages_served']} pages, {truth['payload_bytes']} payload bytes"]
    ratios.sort()
    return bad, {"stored_ratio": ratios[len(ratios) // 2]}, notes


# ---------------------------------------------------------------- dedup

def _shingles(text):
    t = re.split(r"\s+", text)
    return {(t[i], t[i + 1], t[i + 2]) for i in range(len(t) - 2)}


def _components(pairs, keep=lambda d: True):
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if keep(a) and keep(b):
            for x in (a, b):
                parent.setdefault(x, x)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def dedup(con, res, inputs, problems):
    """Ground-truth checks of the six dedup rows, on top of their oracle
    check: every pair really is a near-duplicate, every planted family is
    paired, the cluster, resume and forget labelings equal the connected
    components of the q30 pairs over their corpus (min doc_id labels), and
    the corpus build keeps no document of its held-out slice. Returns the
    keys of the rows that failed."""
    truth = _load(os.path.join(inputs, "truth.json"))
    text = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())

    def rows(q, cols):
        path = os.path.join(res["dump"], "query_mix", q)
        return con.execute(f"SELECT {cols} FROM read_parquet('{path}/*.parquet')").fetchall()

    wrong = {}
    pairs = {}
    for q in ("q30_near_dup_minhash", "q64_near_dup_fast"):
        ps = rows(q, "doc_a, doc_b")
        pairs[q] = ps
        low = 0
        for a, b in ps:
            sa, sb = _shingles(text[a]), _shingles(text[b])
            if len(sa & sb) / len(sa | sb) < 0.5:
                low += 1
        if low:
            wrong[q] = f"{low} of {len(ps)} pairs below Jaccard 0.5"
        comp = _components(ps)
        unpaired = [f for f in truth["variant_families"]
                    if len({comp.get(d, -1 - d) for d in f}) != 1]
        if unpaired:
            wrong[q] = (f"{len(unpaired)} of {len(truth['variant_families'])} "
                        f"planted families not paired, e.g. {unpaired[0]}")
    cold = _components(pairs["q30_near_dup_minhash"])
    forget = _components(pairs["q30_near_dup_minhash"], lambda d: d % 7 != 3)
    for q, want in (("q73_dedup_clusters", cold), ("q188_cluster_resume", cold),
                    ("q201_cluster_forget", forget)):
        if dict(rows(q, "doc_id, cluster_id")) != want:
            wrong[q] = "labeling differs from the cold labeling of its corpus"
    # q220 keeps at most one document of a near-dup family, none of a family
    # that has a member in the held-out slice (doc_id % 10 = 0: every one of
    # its n-grams is benchmark text), and nothing of the held-out slice
    built = {d for (d,) in rows("q220_corpus_build", "doc_id")}
    errs = [f"{len(built)} rows"] if not built else []
    errs += [f"held-out doc {d} kept" for d in sorted(built) if d % 10 == 0]
    for f in truth["variant_families"]:
        kept = built & set(f)
        if len(kept) > 1 or (kept and any(d % 10 == 0 for d in f)):
            errs.append(f"family {f} kept {sorted(kept)}")
    if errs:
        wrong["q220_corpus_build"] = "; ".join(errs[:3])
    for q, e in sorted(wrong.items()):
        problems.append(f"{q}: {e}")
    note = (f"ground truth: {truth['docs']} docs, {len(truth['variant_families'])} "
            f"planted families; "
            f"q30 {len(pairs['q30_near_dup_minhash'])} pairs, "
            f"q64 {len(pairs['q64_near_dup_fast'])} pairs, "
            f"{len(set(cold.values()))} clusters")
    return set(wrong), note


# ---------------------------------------------------------------- query mix

def _canon_type(t):
    s = str(t).replace("large_string", "string").replace("large_binary", "binary")
    if s.startswith("dictionary"):
        m = re.search(r"values=(.+?), indices=", s)
        if m:
            s = m.group(1)
    # UTC-adjusted parquet timestamps read back with the reader's UTC zone
    # name; the session runs UTC on both engines, so collapse the spelling
    return re.sub(r"^timestamp\[(\w+), tz=(Etc/)?UTC\]$", r"timestamp[\1]", s)


def _same(a, b):
    if a is None or b is None:
        return a is b
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return a == b
        return af == bf or (math.isnan(af) and math.isnan(bf))
    return a == b


def _naive_utc(x):
    if isinstance(x, datetime.datetime) and x.tzinfo is not None:
        return x.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return x


def _sorted_rows(tbl):
    cols = sorted(tbl.column_names)
    rows = [tuple(_naive_utc(r[c]) for c in cols) for r in tbl.to_pylist()]
    return sorted(rows, key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))


def compare(con, want, got_path):
    """verify_local-style comparison of the oracle's result table with the
    result dumped under got_path: same sorted column names and types, same
    row count, every cell equal (floats bit-exact)."""
    got = con.execute(f"SELECT * FROM read_parquet('{got_path}/*.parquet')").fetch_arrow_table()
    wc, gc = sorted(want.column_names), sorted(got.column_names)
    if wc != gc:
        return f"columns differ: spark {gc} oracle {wc}"
    for c in wc:
        if _canon_type(want.schema.field(c).type) != _canon_type(got.schema.field(c).type):
            return (f"column {c} type spark {got.schema.field(c).type} "
                    f"oracle {want.schema.field(c).type}")
    if want.num_rows != got.num_rows:
        return f"rows spark {got.num_rows} oracle {want.num_rows}"
    for i, (w, g) in enumerate(zip(_sorted_rows(want), _sorted_rows(got))):
        for c, a, b in zip(wc, g, w):
            if not _same(a, b):
                return f"row {i} column {c}: spark {a!r} oracle {b!r}"
    return None


def query_mix(res, inputs, problems):
    mix = _load(os.path.join(res["dump"], "query_mix.json"))
    con = duckdb.connect()
    con.execute("SET memory_limit = '2GB'")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{os.path.join(inputs, t + '.parquet')}')")
    failed = set()
    unchecked = []
    oracle = {}  # q73 and q188 share one oracle statement
    for q, spec in sorted(mix.items()):
        path = os.path.join(res["dump"], "query_mix", q)
        if not os.path.isdir(path):
            failed.add(q)
            problems.append(f"{q}: no result (every run failed)")
        elif spec["oracle"] is None or q in NOT_ORACLE_CHECKED:
            unchecked.append(q)
        else:
            try:
                if spec["oracle"] not in oracle:
                    oracle[spec["oracle"]] = con.execute(spec["oracle"]).fetch_arrow_table()
                err = compare(con, oracle[spec["oracle"]], path)
            except Exception as e:  # an oracle that cannot run is a failed check
                err = f"oracle error: {e}"
            if err:
                failed.add(q)
                problems.append(f"{q}: {err}")
    wrong, note = dedup(con, res, inputs, problems)
    failed |= wrong
    con.close()
    bad = {i for i, o in enumerate(res["ops"]) if o["name"] in failed}
    notes = [note, f"oracle-checked {len(mix) - len(unchecked)} of {len(mix)} queries, "
             f"ground-truth-checked the {len(DEDUP_ROWS)} dedup rows; "
             f"not oracle-checked: " + ("; ".join(
                 f"{q} ({NOT_ORACLE_CHECKED.get(q, 'no oracle SQL')})" for q in unchecked)
                 or "none")]
    return bad, {}, notes


# Rows with oracle SQL that the check does not run, and why (DESIGN.json
# lists them too).
NOT_ORACLE_CHECKED = {
    "q220_corpus_build": "its recursive-CTE oracle does not finish within 100 s "
                         "on the 1000-document corpus",
}


DEDUP_ROWS = {"q30_near_dup_minhash", "q64_near_dup_fast", "q73_dedup_clusters",
              "q188_cluster_resume", "q201_cluster_forget", "q220_corpus_build"}


CHECKS = {"medallion_daily": medallion, "query_mix": query_mix}
