"""Seeded input generator for the benchmark.

Two input families, both a pure function of the seed:

* ``tables(out, sf, seed)`` writes the ten star-schema tables the engine's
  queries read (``region nation customer supplier part orders lineitem events
  documents embeddings``), one parquet file each, with the column names,
  types and value distributions of the engine's test tables at the same
  scale factor.
* ``raw_days(out, ...)`` writes the reference ETL's raw layer,
  ``raw/YYYY/MM/DD/{videos,channels}_YYYYMMDD_HHMMSS.json``, in the YouTube
  API shapes the reference collects: nested ``snippet``/``statistics`` with
  string-typed counts, one JSON array per file.  Titles and descriptions are
  documents over the ``documents`` vocabulary, each title with one word of
  the sentiment lexicon, and every category class of the sentiment decision
  table occurs.  Each day carries the load's edge cases: ids re-collected
  from earlier files and days (first write wins), channels re-collected in a
  later file (latest file wins), an exact duplicate row, rows with a null
  id, missing optional fields and one malformed file.

Run ``python3 perfbench/gen.py tables OUT SEED [SF]`` or
``python3 perfbench/gen.py raw OUT SEED [VIDEOS_PER_DAY]`` to write one
family by hand.
"""
import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"], dtype=object)
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object)
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)
PART_ADJ = "blue cold hot large red shiny small steel".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], dtype=object)
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"], dtype=object)
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def _pick(rng, values, n, p=None):
    return values[rng.choice(len(values), size=n, p=p)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _texts(rng, n):
    """Documents over a 31-word vocabulary, 10-100 words each; 5 % are
    near-duplicates of an earlier document (one or two words replaced)
    and 0.2 % exact duplicates, so the dedup operators find real pairs."""
    lens = rng.integers(10, 101, n)
    ids = rng.integers(0, len(WORDS), lens.sum())
    words = np.array(WORDS, dtype=object)[ids]
    texts, pos = [], 0
    for k in lens:
        texts.append(words[pos:pos + k])
        pos += k
    kind = rng.random(n)
    for i in range(1, n):
        src = int(rng.integers(0, i))
        if kind[i] < 0.002:
            texts[i] = texts[src]
        elif kind[i] < 0.052:
            t = texts[src].copy()
            for j in rng.integers(0, len(t), int(rng.integers(1, 3))):
                t[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts[i] = t
    return [" ".join(t) for t in texts]


def tables(out, sf, seed):
    """Writes the ten tables at scale factor ``sf`` into ``out``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust), s)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64)})
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN], dtype=object)
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(_pick(rng, names, n_part), s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(_pick(rng, PART_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1), f64)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(_pick(rng, np.array(["F", "O", "P"], dtype=object), n_ord), s),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord), f64),
        "o_orderdate": pa.array(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US, ts),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_ord), s)})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), f64),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line), f64),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_line), 2), f64),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2), f64),
        "l_returnflag": pa.array(_pick(rng, np.array(["A", "N", "R"], dtype=object), n_line), s),
        "l_linestatus": pa.array(_pick(rng, np.array(["F", "O"], dtype=object), n_line), s),
        "l_shipdate": pa.array(EPOCH_1995 + (1 + rng.integers(0, 2499, n_line)) * DAY_US, ts)})
    gaps = rng.exponential(30 * DAY_US / max(n_ev, 1), n_ev).cumsum().astype(np.int64)
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(EPOCH_2024 + gaps, ts),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), n_ev), i64),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, n_ev), s),
        "value": pa.array(np.round(rng.exponential(50, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    texts = _texts(rng, n_doc)
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(_pick(rng, LANGS, n_doc, LANG_P), s),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


# Categories cover every branch of the sentiment decision table: positive,
# negative and keyword-classified ("mixed") ids, plus unknown ones.
CATEGORIES = np.array(["19", "26", "28", "20", "23", "25", "1", "10", "15", "22", "17", "99", "43"], dtype=object)
COUNTRIES = np.array(["US", "GB", "IN", "PK", "DE", "BR", "JP", "NG", "MX", "FR"], dtype=object)
SENTIMENT_WORDS = ("fast join merge sort group improve guide tutorial help growth learn "
                   "slow fail drama crash error worst terrible skew spill leak").split()


def raw_days(out, seed, days, per_day, first_day="2024-01-01"):
    """Writes ``days`` daily raw layers of about ``per_day`` videos each under
    ``out/raw`` and returns a manifest: per day its directory, files, the
    valid video records it holds and the well-formed files the oracle reads.
    """
    rng = np.random.default_rng([seed, 2])
    n_chan = max(per_day // 8, 10)
    n_docs = 2000
    docs = _texts(rng, n_docs)
    chan_country = _pick(rng, COUNTRIES, n_chan)
    chan_country[rng.random(n_chan) < 0.05] = None  # -> 'UNKNOWN' in the dim
    day0 = dt.date.fromisoformat(first_day)
    next_key, collected, facts, manifest = 0, [], set(), []
    for d in range(days):
        day = day0 + dt.timedelta(days=d)
        ymd, dirpart = day.strftime("%Y%m%d"), day.strftime("%Y/%m/%d")
        ddir = os.path.join(out, "raw", dirpart)
        os.makedirs(ddir, exist_ok=True)
        n_new = per_day
        keys = np.arange(next_key, next_key + n_new)
        next_key += n_new
        # about 5 % of a day's records re-collect ids seen on earlier days
        n_old = min(len(collected), per_day // 20)
        old = rng.choice(np.array(collected), n_old, replace=False) if n_old else np.array([], int)
        recs = np.concatenate([keys, old])
        rng.shuffle(recs)
        collected.extend(keys.tolist())
        chans = rng.integers(0, n_chan, len(recs))
        cats = _pick(rng, CATEGORIES, len(recs))
        docs_i = rng.integers(0, n_docs, len(recs))
        views = rng.integers(0, 2_000_000, len(recs))
        views[rng.random(len(recs)) < 0.03] = 0
        likes = (views * rng.uniform(0, 0.08, len(recs))).astype(np.int64)
        comments = (views * rng.uniform(0, 0.01, len(recs))).astype(np.int64)
        shape = rng.random((len(recs), 4))
        videos = []
        for i, k in enumerate(recs):
            text = docs[docs_i[i]]
            words = text.split()
            title = " ".join(words[:6] + [SENTIMENT_WORDS[int(docs_i[i]) % len(SENTIMENT_WORDS)]])
            snippet = {"channelId": f"UC{chans[i]:08d}", "categoryId": cats[i], "title": title}
            if shape[i, 0] > 0.1:
                snippet["description"] = text
            if shape[i, 1] > 0.15:
                snippet["tags"] = words[-3:]
            snippet["publishedAt"] = f"{day.isoformat()}T00:00:00Z"
            stats = {"likeCount": str(likes[i]), "commentCount": str(comments[i])}
            if shape[i, 2] > 0.05:
                stats["viewCount"] = str(views[i])
            videos.append({"id": f"v{k:09d}", "snippet": snippet, "statistics": stats})
        # a null id, and an exact duplicate of the first record
        videos.append({"id": None, "snippet": dict(videos[0]["snippet"]),
                       "statistics": dict(videos[0]["statistics"])})
        videos.append(json.loads(json.dumps(videos[0])))
        # three collection runs a day; the later runs re-collect a few ids
        # from the earlier ones with fresh counts (the first file wins)
        thirds = np.array_split(np.arange(len(videos)), 3)
        files, valid, staged = [], 0, 1  # the malformed file stages one corrupt row
        for j, (hh, idx) in enumerate(zip(("060000", "120000", "180000"), thirds)):
            rows = [videos[i] for i in idx]
            if j:
                for i in rng.choice(thirds[0], min(len(thirds[0]), per_day // 100), replace=False):
                    again = json.loads(json.dumps(videos[i]))
                    if again["id"] is not None:
                        again["statistics"]["likeCount"] = str(int(rng.integers(0, 1000)))
                        rows.append(again)
            name = f"videos_{ymd}_{hh}.json"
            with open(os.path.join(ddir, name), "w") as f:
                json.dump(rows, f, separators=(",", ":"))
            files.append(name)
            valid += sum(1 for r in rows if r["id"] is not None)
            staged += len(rows)
            facts.update(r["id"] for r in rows if r["id"] is not None)
        bad = f"videos_{ymd}_235959.json"
        with open(os.path.join(ddir, bad), "w") as f:
            f.write('[{"id": "broken", "snippet": {"title": ')
        # channels of the day's videos, in two files; the later file re-collects
        # a quarter of them with new counts and titles (the latest file wins)
        seen = np.unique(chans)
        later = seen[rng.random(len(seen)) < 0.25]
        chan_files = []
        for hh, ids, ver in (("060000", seen, 0), ("180000", later, 1)):
            rows = [{"channel_id": f"UC{c:08d}", "channel_title": f"Channel {c} v{d}.{ver}",
                     "channel_country": chan_country[c],
                     "subscriber_count": int(1000 + c * 37 + d * 11 + ver),
                     "video_count": int(10 + c % 500 + d)} for c in ids]
            rows.append({"channel_id": None, "channel_title": "no id", "channel_country": "US",
                         "subscriber_count": 1, "video_count": 1})
            name = f"channels_{ymd}_{hh}.json"
            with open(os.path.join(ddir, name), "w") as f:
                json.dump(rows, f, separators=(",", ":"))
            chan_files.append(name)
        manifest.append({"date": day.isoformat(), "dir": ddir, "valid_records": valid,
                         "staged_rows": staged, "facts_total": len(facts),
                         "video_files": files, "channel_files": chan_files, "malformed": bad})
    return manifest


if __name__ == "__main__":
    kind, out, seed = sys.argv[1], sys.argv[2], int(sys.argv[3])
    if kind == "tables":
        tables(out, float(sys.argv[4]) if len(sys.argv) > 4 else 0.1, seed)
    else:
        print(json.dumps(raw_days(out, seed, 7, int(sys.argv[4]) if len(sys.argv) > 4 else 1500), indent=1))
