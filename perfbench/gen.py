"""Seeded input generators for the benchmark workloads.

Each generator writes its inputs plus a ``truth.json`` ground truth into a
directory and returns the sha256 of every byte it wrote (sorted by relative
path), so two generations from one seed can be compared byte for byte.

  medallion_daily  Wistia-shaped paged event feeds and media metadata
                   objects, one set per pull day (day 0 is the backfill).
  query_mix        the repository's testdata tables (TESTDATA.md) at one
                   scale factor, linked read-only, and a seeded documents
                   table from tools/gen_documents.py that carries planted
                   near-duplicate families.

Run standalone to inspect a generation:
  python3 perfbench/gen.py <workload> <out_dir> <seed>
"""
import datetime as dt
import hashlib
import json
import os
import random
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Generator parameters; perfbench/DESIGN.json records the same values.
MEDALLION = {
    "media": 3,
    "history_days": 2,          # days of backlog the backfill pull carries
    "incremental_days": 7,      # pulls after the backfill
    "events_per_media_day": 600,  # fixed, so every seed carries the same work
    "per_page": 100,
    "overlap_events": 5,        # re-delivered tail of the previous pull
    "cutoff_hour": [20, 23],    # pull cut-off; later events arrive next day
    "corrupt_feeds": 2,         # feeds whose terminal page is an HTML 5xx body
    "metadata_update_share": 0.3,
    "start_date": "2025-03-01",
}
QUERY_MIX = {
    "sf": 0.01,                 # the testdata scale of every table but documents
    "docs": 1000,               # tools/gen_documents.py rows
    "variant_families": 40,     # whitespace-variant families (Jaccard 1)
    "variants_per_family": [1, 3],
}
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
SHAPES = ["data", "events", "items", "results", "bare"]


def checksum(root):
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True, separators=(",", ":"))


def _iso(t):
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


# ---------------------------------------------------------------- medallion

def _event(rng, media_id, media_name, seq, ts, visitors):
    viewed = 0.0 if rng.random() < 0.4 else rng.randint(1, 100) / 100
    mobile = rng.random() < 0.3
    return {
        "event_key": f"{media_id}-{seq:06d}-{rng.getrandbits(32):08x}",
        "received_at": _iso(ts),
        "percent_viewed": viewed,
        "embed_url": f"https://example.com/watch/{media_id}",
        "email": None if rng.random() < 0.7 else f"user{rng.randrange(500)}@example.com",
        "ip": f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(256)}",
        "user_agent_details": {
            "browser": rng.choice(["Chrome", "Firefox", "Safari", "Edge"]),
            "browser_version": str(rng.randint(90, 130)),
            "platform": rng.choice(["Windows", "Mac", "iOS", "Android", "Linux"]),
            "mobile": mobile,
        },
        "visitor_key": f"v-{media_id}-{rng.randrange(visitors)}",
        "country": rng.choice(["US", "DE", "FR", "BR", "IN", "JP"]),
        "region": rng.choice(["north", "south", "east", "west"]),
        "city": rng.choice(["Springfield", "Riverton", "Lakeside", "Hillview"]),
        "lat": rng.randint(-9000, 9000) / 100,
        "lon": rng.randint(-18000, 18000) / 100,
        "org": rng.choice(["Acme", "Globex", "Initech", None]),
        "media_id": media_id,
        "media_name": media_name,
    }


def _pages(rng, events, per_page, corrupt, corrupt_body):
    """Render one feed as page payloads: every page picks an envelope shape.
    A feed ends on a short page; a feed whose events fill its last page
    exactly ends on an empty page, or, when corrupt, on an HTML 5xx body."""
    pages = []
    chunks = [events[i:i + per_page] for i in range(0, len(events), per_page)]
    if not chunks or len(chunks[-1]) == per_page:
        chunks.append(None if corrupt else [])
    with_total = not corrupt and rng.random() < 0.5
    for chunk in chunks:
        if chunk is None:
            pages.append(corrupt_body)
            continue
        shape = rng.choice(SHAPES)
        if shape == "bare":
            body = chunk
        else:
            body = {shape: chunk, "per_page": per_page}
            if with_total:
                body["total"] = len(events)
        pages.append(json.dumps(body, separators=(",", ":")))
    return pages


def gen_medallion(out, seed, p=MEDALLION):
    rng = random.Random(seed)
    start = dt.datetime.strptime(p["start_date"], "%Y-%m-%d")
    n_pull = 1 + p["incremental_days"]
    hist = p["history_days"]
    media = [f"m{seed % 1000:03d}{i:02d}" for i in range(p["media"])]
    names = {m: f"Video {m}" for m in media}
    # pull day k happens on calendar day hist + k; its cut-off is an hour
    # in cutoff_hour of that day, and it delivers (previous cut-off, cut-off]
    pull_dates = [start + dt.timedelta(days=hist + k) for k in range(n_pull)]
    served = set()
    gold = {}
    corrupt_pages = []
    feeds = {}       # (media, pull) -> [payload]
    metadata = {}    # (media, pull) -> object
    planted_corrupt = 0
    corrupt_at = set(rng.sample([(m, k) for m in media for k in range(1, n_pull)],
                                p["corrupt_feeds"]))
    for m in media:
        timeline = []
        seq = 0
        for d in range(hist + n_pull):
            day0 = start + dt.timedelta(days=d)
            n = p["events_per_media_day"]
            secs = sorted(rng.randrange(86400) for _ in range(n))
            for s in secs:
                timeline.append(_event(rng, m, names[m], seq,
                                       day0 + dt.timedelta(seconds=s), 200))
                seq += 1
        prev_cut = None
        prev_delivered = []
        version = 0
        for k, pdate in enumerate(pull_dates):
            cut = pdate + dt.timedelta(hours=rng.randint(*p["cutoff_hour"]),
                                       minutes=rng.randrange(60))
            cut_s = _iso(cut)
            prev_s = _iso(prev_cut) if prev_cut else ""
            fresh = [e for e in timeline
                     if prev_s < e["received_at"] <= cut_s]
            overlap = prev_delivered[-p["overlap_events"]:] if k > 0 else []
            # a corrupt feed fills its last page exactly, so the client asks
            # for one more page and gets the HTML body
            full = (len(overlap) + len(fresh)) // p["per_page"] * p["per_page"]
            corrupt = (m, k) in corrupt_at and full > len(overlap)
            if corrupt:
                fresh = fresh[:full - len(overlap)]
            events = overlap + fresh
            body = (f"<html><head><title>502 Bad Gateway</title></head><body>"
                    f"upstream error, request id {m}-{k}-{rng.getrandbits(48):012x}"
                    f"</body></html>")
            feeds[(m, k)] = _pages(rng, events, p["per_page"], corrupt, body)
            if corrupt:
                planted_corrupt += 1
                corrupt_pages.append(body)
            # events after the cut-off that this pull dropped (corrupt feeds
            # truncate) are never delivered: the next pull starts at the cut
            for e in events:
                served.add(e["event_key"])
            for e in fresh:
                key = (m, e["received_at"][:10])
                g = gold.setdefault(key, {"load_count": 0, "play_count": 0,
                                          "sum_cents": 0, "visitors": set()})
                g["load_count"] += 1
                g["play_count"] += e["percent_viewed"] > 0
                g["sum_cents"] += round(e["percent_viewed"] * 100)
                g["visitors"].add(e["visitor_key"])
            prev_cut = cut
            prev_delivered = fresh if fresh else prev_delivered
            if k == 0 or rng.random() < p["metadata_update_share"]:
                version += 1
            created = start - dt.timedelta(days=30)
            metadata[(m, k)] = {
                "hashed_id": m,
                "name": f"{names[m]} v{version}",
                "duration": (f"{60 + int(m[-2:]) * 7.5}" if version % 2
                             else 60 + int(m[-2:]) * 7.5),
                "created": _iso(created),
                "updated": _iso(created + dt.timedelta(days=30 + version)),
                "section": f"section-{version % 3}",
                "subfolder": {"name": f"folder-{m[-2:]}"},
                "thumbnail": {"url": f"https://example.com/thumb/{m}/{version}.jpg"},
                "project": {"name": "benchmark"},
            }
    os.makedirs(out, exist_ok=True)
    # one file per pull day: {"media": {media: [pages]}, "metadata": {...}}
    for k, pdate in enumerate(pull_dates):
        _write_json(os.path.join(out, f"pull_{k:02d}.json"), {
            "dt": pdate.strftime("%Y-%m-%d"),
            "pages": {m: feeds[(m, k)] for m in media},
            "metadata": {m: metadata[(m, k)] for m in media},
        })
    last = n_pull - 1
    truth = {
        "media": media,
        "pulls": n_pull,
        "per_page": p["per_page"],
        "distinct_event_keys": sorted(served),
        "gold": sorted([m, d, g["load_count"], g["play_count"],
                        g["sum_cents"], len(g["visitors"])]
                       for (m, d), g in gold.items()),
        "corrupt_pages": sorted(corrupt_pages),
        "pages_served": sum(len(v) for v in feeds.values()),
        "payload_bytes": sum(len(x.encode()) for v in feeds.values() for x in v),
        "dim_media": sorted([
            metadata[(m, last)]["hashed_id"], metadata[(m, last)]["name"],
            float(metadata[(m, last)]["duration"]),
            metadata[(m, last)]["section"],
            metadata[(m, last)]["subfolder"]["name"],
            metadata[(m, last)]["thumbnail"]["url"],
            metadata[(m, last)]["project"]["name"]] for m in media),
    }
    assert planted_corrupt == len(corrupt_pages)
    _write_json(os.path.join(out, "truth.json"), truth)
    return checksum(out)


# ---------------------------------------------------------------- query mix

def testdata_dir(sf):
    """The repository's read-only testdata tables at one scale factor
    (TESTDATA.md)."""
    return os.path.join(os.path.expanduser("~"), "testdata", f"sf{sf}")


def gen_documents(out, seed, p):
    """The documents table, from tools/gen_documents.py's fitted
    distribution, with whitespace-variant families planted on top: a copy
    of a base document with some single spaces widened to runs of spaces
    and tabs. Tokens split on \\s+, so a family's shingle sets are equal
    (Jaccard 1) and every pairing row must connect it. Returns the ground
    truth: the planted families."""
    path = os.path.join(out, "documents.parquet")
    subprocess.run([sys.executable, os.path.join(ROOT, "tools", "gen_documents.py"),
                    str(p["docs"]), path, str(seed)],
                   check=True, stdout=subprocess.DEVNULL)
    table = pq.read_table(path)
    texts = table.column("text").to_pylist()
    rng = random.Random(seed)
    sizes = [rng.randint(*p["variants_per_family"]) + 1
             for _ in range(p["variant_families"])]
    ids = iter(rng.sample(range(len(texts)), sum(sizes)))
    families = []
    for size in sizes:
        members = [next(ids) for _ in range(size)]
        words = texts[members[0]].split(" ")
        for v in members[1:]:
            gaps = [" " if rng.random() < 0.8 else rng.choice(["  ", "\t", " \t "])
                    for _ in range(len(words) - 1)]
            texts[v] = words[0] + "".join(g + w for g, w in zip(gaps, words[1:]))
        families.append(sorted(members))
    table = table.set_column(table.schema.get_field_index("text"), "text",
                             pa.array(texts, pa.string()))
    table = table.set_column(table.schema.get_field_index("n_chars"), "n_chars",
                             pa.array([len(t) for t in texts], pa.int64()))
    pq.write_table(table, path)
    return {
        "docs": len(texts),
        "variant_families": sorted(families),
        "forget_rule": "doc_id % 7 <> 3",
    }


def gen_query_mix(out, seed, p=QUERY_MIX):
    """Links every testdata table but documents into `out`, then writes the
    seeded documents table and its ground truth next to them."""
    src = testdata_dir(p["sf"])
    tables = [t for t in TABLES if t != "documents"]
    missing = [t for t in tables if not os.path.exists(os.path.join(src, f"{t}.parquet"))]
    if missing:
        raise FileNotFoundError(f"testdata tables {missing} not found under {src}")
    os.makedirs(out, exist_ok=True)
    for t in tables:
        os.symlink(os.path.realpath(os.path.join(src, f"{t}.parquet")),
                   os.path.join(out, f"{t}.parquet"))
    _write_json(os.path.join(out, "truth.json"), gen_documents(out, seed, p))
    return checksum(out)


GENERATORS = {
    "medallion_daily": gen_medallion,
    "query_mix": gen_query_mix,
}

if __name__ == "__main__":
    print(GENERATORS[sys.argv[1]](sys.argv[2], int(sys.argv[3])))
