"""Seeded input generator for the graft benchmark.

Every table is written in the schema of the existing testdata tables
(`events`, `documents`, `embeddings`), so Tables.* readers, registry rows
and the DuckDB / linear-replay oracles run on it unchanged. The same seed
always gives byte-identical tables. Beside the tables, `truth.json` records
what was planted, for the correctness gate.

Ticks (`events`: symbol = event_type, price = value, volume = user_id + 1,
seq = event_id):
  * one hot symbol carries about half of all ticks; the other symbols get
    geometrically smaller shares, so ticks-per-candle differs by symbol;
  * ticks fall in weekday New York sessions (04:00-20:00 ET) with a
    U-shaped intraday rate inside 09:30-16:00 and a thin extended-hours
    rate outside it;
  * prices are cent-valued random walks; volumes are whole numbers;
  * about 2 % of ticks are re-sent as exact duplicates (a later event_id,
    arriving a few ticks after the original) and about 0.1 % are invalid
    (price <= 0 or a null volume source);
  * event_id is the arrival order. Arrival follows event time except for
    about 1 % of ticks that arrive up to 2 s of event time out of order
    (always inside a 10 s watermark) and about 0.2 % that arrive at least
    5 minutes of event time late, measured against the ticks that arrived
    `late_lag` positions earlier, so any micro-batch of at most `late_lag`
    ticks has already moved the watermark past them.

Corpus (`documents`, `embeddings`): a random-vocabulary text corpus with
planted near-duplicate clusters of mixed sizes (token edits chosen so the
3-gram Jaccard with the cluster's source stays well above 0.8) and exact
duplicates, plus unit vectors with planted tight clusters (cosine >= 0.95
to their centre) of mixed sizes. The planted pairs go to truth.json.
"""
import json
import zoneinfo
from datetime import date, datetime, timedelta
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NY = zoneinfo.ZoneInfo("America/New_York")
SYMBOLS = ["NVDA", "AAPL", "MSFT", "AMD", "TSLA", "META", "AMZN", "INTC"]
VOCAB = ("spark batch part line column order small sort fast value scan hash "
         "slow group agg filter query a big key window row table stream merge "
         "data vector join customer the of and to in is it for on with as "
         "was he be at by this had not are but from or have an they which "
         "one you were her all she there would their we him been has when "
         "who will more no if out so said what up its about into than them "
         "can only other new some could time these two may then do first "
         "any my now such like our over man me even most made after also "
         "did many before must through back years where much your way well "
         "down should because each just those people how too little state "
         "good very make world still own see men work long get here between "
         "both life being under never day same another know while last might "
         "us great old year off come since against go came right used take "
         "three").split()
LANGS = ["en", "de", "fr", "zh", "es"]


def _write(path, table):
    tmp = path.with_name(path.name + ".tmp")
    pq.write_table(table, tmp)
    tmp.replace(path)


# ------------------------------------------------------------------ ticks

def _session_days(n_days):
    d = date(2024, 1, 2)
    out = []
    while len(out) < n_days:
        if d.weekday() < 5:
            out.append(d)
        d += timedelta(days=1)
    return out


def _intraday_weights():
    """Relative tick rate for each second of 04:00-20:00 ET (57,600 s)."""
    s = np.arange(16 * 3600, dtype=np.float64)
    open_s, close_s = 5.5 * 3600, 12 * 3600  # 09:30 and 16:00 after 04:00
    w = np.full(s.shape, 0.04)
    reg = (s >= open_s) & (s < close_s)
    x = (s[reg] - open_s) / (close_s - open_s)  # 0..1 over the session
    w[reg] = 0.35 + 3.0 * (2 * x - 1) ** 2  # U shape: busy open and close
    return w / w.sum()


def gen_ticks(out_dir, seed, n_ticks, n_days, late_lag):
    rng = np.random.default_rng([seed, 1])
    days = _session_days(n_days)
    weights = _intraday_weights()
    share = np.array([0.5] + [0.5 * 0.5 ** i for i in range(1, len(SYMBOLS))])
    share = share / share.sum()
    n_base = int(n_ticks / 1.02)
    per_sym = rng.multinomial(n_base, share)

    sym_l, ts_l, px_l = [], [], []
    for si, n_sym in enumerate(per_sym):
        per_day = rng.multinomial(n_sym, np.full(len(days), 1.0 / len(days)))
        for d, n_day in zip(days, per_day):
            start = datetime(d.year, d.month, d.day, 4, 0, tzinfo=NY)
            start_us = int(start.timestamp()) * 1_000_000
            counts = rng.multinomial(n_day, weights)
            sec = np.repeat(np.arange(len(weights), dtype=np.int64), counts)
            us = start_us + sec * 1_000_000 + rng.integers(0, 1_000_000, len(sec))
            us = np.unique(us)
            sym_l.append(np.full(len(us), si, dtype=np.int64))
            ts_l.append(us)
        n = sum(len(t) for t in ts_l[-len(days):])
        p0 = 2000 + 500 * si + rng.integers(0, 30000)
        steps = rng.choice([-2, -1, -1, 0, 0, 0, 1, 1, 2], n)
        cents = np.maximum(p0 + np.cumsum(steps), 100)
        px_l.append(cents / 100.0)
    sym = np.concatenate(sym_l)
    ts = np.concatenate(ts_l)
    px = np.concatenate(px_l)
    vol_src = rng.integers(0, 500, len(ts)).astype(np.float64)

    order = np.lexsort((sym, ts))  # event-time order
    sym, ts, px, vol_src = sym[order], ts[order], px[order], vol_src[order]
    n = len(ts)

    # invalid ticks: non-positive price or a null volume source
    bad = rng.choice(n, max(2, n // 1000), replace=False)
    px[bad[: len(bad) // 2]] = 0.0
    px[bad[len(bad) // 2: 3 * len(bad) // 4]] = -px[bad[len(bad) // 2: 3 * len(bad) // 4]]
    vol_src[bad[3 * len(bad) // 4:]] = np.nan

    # arrival keys: position in event-time order, perturbed
    key = np.arange(n, dtype=np.float64)
    kind = np.zeros(n, dtype=np.int8)  # 0 on time, 1 out of order, 2 late
    cand = rng.permutation(np.arange(late_lag * 2, n - 1))
    ooo, late = cand[: n // 100], cand[n // 100: n // 100 + n // 500]
    # out of order: arrive after ticks up to 2 s of event time later
    j = np.searchsorted(ts, ts[ooo] + rng.integers(200_000, 2_000_000, len(ooo))) - 1
    moved = j > ooo
    key[ooo[moved]] = j[moved] + 0.5
    kind[ooo[moved]] = 1
    # late: arrive `late_lag` (plus slack for re-ordering) positions after
    # the first tick that is 5 min of event time ahead of them
    j = np.searchsorted(ts, ts[late] + 300_000_000) + late_lag + late_lag // 10 + 5
    ok = j < n
    key[late[ok]] = j[ok] + 0.25
    kind[late[ok]] = 2
    # exact duplicates: re-sent within 2 s of event time after the original
    # (never a late tick, so the stream's dedup and the batch keep-last
    # agree, and never behind the watermark)
    on_time = np.flatnonzero(kind == 0)
    dup_src = np.sort(rng.choice(on_time, int(n * 0.02), replace=False))
    j = np.searchsorted(ts, ts[dup_src] + rng.integers(0, 2_000_000, len(dup_src))) - 1
    dup_key = np.maximum(j, dup_src) + 0.75

    src = np.concatenate([np.arange(n), dup_src])
    akey = np.concatenate([key, dup_key])
    arrival = src[np.argsort(akey, kind="stable")]
    is_dup = np.zeros(len(src), dtype=bool)
    is_dup[n:] = True
    is_dup = is_dup[np.argsort(akey, kind="stable")]

    vol = vol_src[arrival]
    user = pa.array(np.where(np.isnan(vol), 0, vol).astype(np.int64),
                    mask=np.isnan(vol))
    event_id = np.arange(len(arrival), dtype=np.int64)
    props = pa.array(["{}"] * len(arrival))
    table = pa.table({
        "event_id": pa.array(event_id),
        "ts": pa.array(ts[arrival], type=pa.timestamp("us")),
        "user_id": user,
        "event_type": pa.array(np.array(SYMBOLS)[sym[arrival]]),
        "value": pa.array(px[arrival]),
        "props": props,
    })
    out_dir.mkdir(parents=True, exist_ok=True)
    _write(out_dir / "events.parquet", table)
    late_ids = event_id[(kind[arrival] == 2) & ~is_dup]
    truth = {
        "n_ticks": int(len(arrival)),
        "n_duplicates": int(is_dup.sum()),
        "n_invalid": int(len(bad)),
        "n_out_of_order": int((kind == 1).sum()),
        "n_late": int(len(late_ids)),
        "late_lag": late_lag,
    }
    (out_dir / "truth.json").write_text(json.dumps(truth))
    (out_dir / "late_event_ids.txt").write_text("".join(f"{x}\n" for x in late_ids))
    return truth


# ------------------------------------------------------------------ corpus

def _shingles(tokens, n=3):
    if len(tokens) <= n:
        return {" ".join(tokens)}
    return {" ".join(tokens[i:i + n]) for i in range(len(tokens) - n + 1)}


def _jaccard(a, b):
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def _cluster_sizes(n_members, pattern):
    """Cluster sizes summing to at least n_members: `pattern` repeated, so
    every seed plants the same cluster structure and only the content
    differs."""
    sizes = []
    while sum(sizes) < n_members:
        sizes.extend(pattern)
    return sizes


# mixed cluster sizes: many pairs, some small groups, a few large ones
TEXT_CLUSTERS = [2, 2, 2, 2, 2, 3, 3, 4, 5, 6, 8, 10, 12]
# vectors: groups of 2..5 are noise under DBSCAN's minPts 6, 6..24 clusters
VEC_CLUSTERS = [2, 3, 4, 5, 6, 8, 10, 12, 16, 20, 24]


def gen_corpus(out_dir, seed, n_docs, n_vecs):
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(VOCAB)
    docs = []  # token lists, in generation order
    text_clusters = []  # lists of generation indices

    def random_doc():
        return list(vocab[rng.integers(0, len(vocab), int(rng.integers(40, 121)))])

    # near-duplicate clusters: ~10 % of the corpus; every member is its
    # source with a few token substitutions (3-gram Jaccard >= 0.85 to it)
    for size in _cluster_sizes(n_docs // 10, TEXT_CLUSTERS):
        src = random_doc()
        members = [len(docs)]
        docs.append(src)
        while len(members) < size:
            d = list(src)
            for p in rng.integers(0, len(d), 1 + len(d) // 60):
                d[p] = vocab[rng.integers(0, len(vocab))]
            if _jaccard(src, d) >= 0.85 and d != src:
                members.append(len(docs))
                docs.append(d)
        text_clusters.append(members)
    n_low = n_docs * 3 // 100  # low quality: digits and marks, filtered out
    n_exact = n_docs // 100  # exact copies (up to case/whitespace) of singles
    while len(docs) < n_docs - n_low - n_exact:
        docs.append(random_doc())
    texts = [" ".join(d) for d in docs]
    singles = np.arange(sum(len(c) for c in text_clusters), len(texts))
    for s in rng.choice(singles, n_exact, replace=False):
        t = texts[s]
        texts.append(t.upper() if rng.random() < 0.5 else "  " + t.replace(" ", "   ") + " ")
    for _ in range(n_low):
        toks = [str(x) for x in rng.integers(0, 100000, int(rng.integers(10, 60)))]
        texts.append(" ".join(toks) + " #$%")

    # doc ids: a seeded shuffle, so cluster members are scattered
    ids = rng.permutation(len(texts)).astype(np.int64)
    table = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), len(texts))]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, len(texts))]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    out_dir.mkdir(parents=True, exist_ok=True)
    _write(out_dir / "documents.parquet", table)

    # vectors: dense planted clusters (DBSCAN-sized, >= 6 members), small
    # planted groups (2..5, noise under minPts 6) and random unit vectors
    dim = 64
    vecs, vec_clusters = [], []
    for size in _cluster_sizes(n_vecs // 5, VEC_CLUSTERS):
        c = rng.normal(0, 1, dim)
        c /= np.linalg.norm(c)
        m = c + rng.normal(0, 0.02, (size, dim))
        if size >= 6:
            vec_clusters.append(list(range(len(vecs), len(vecs) + size)))
        vecs.extend(m)
    while len(vecs) < n_vecs:
        vecs.append(rng.normal(0, 1, dim))
    e = np.array(vecs, dtype=np.float64)
    e = (e / np.linalg.norm(e, axis=1, keepdims=True)).astype(np.float32)
    vids = rng.permutation(len(e)).astype(np.int64)
    _write(out_dir / "embeddings.parquet", pa.table({
        "vec_id": pa.array(vids),
        "embedding": pa.array(list(e), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, len(e), dtype=np.int32)),
    }))
    truth = {
        "n_docs": len(texts),
        "n_vecs": len(e),
        "text_clusters": [[int(ids[i]) for i in c] for c in text_clusters],
        "vec_clusters": [[int(vids[i]) for i in c] for c in vec_clusters],
        "n_exact_copies": n_exact,
        "n_low_quality": n_low,
    }
    (out_dir / "truth.json").write_text(json.dumps(truth))
    return truth
