"""Seeded input generator for the benchmark.

Writes one workload's inputs under ``<out>/`` in a single process and
records what it wrote (row counts, bytes, users per micro-batch,
planted duplicates) in
``<out>/manifest.json``.  The same seed gives byte-identical files.

    python3 perfbench/gen.py --workload batch_jobs --seed 1 --out DIR

Layouts:

- ``batch_jobs``: reference-shaped header-less files, each a directory
  of part files (so that a scan is not one task) — UserBehavior.csv
  (Zipf-skewed items), apache.log, marketing.csv, AdClickLog.csv (with
  planted over-threshold clickers), LoginLog.csv, OrderLog.csv,
  ReceiptLog.csv.
- ``stream_jobs``: the behaviour events log (the testdata ``events``
  schema) split into one parquet file per micro-batch, with events moved
  into the next file when they fall inside the watermark bound; and,
  beside it, the ten testdata tables as single parquet files for
  the registry's corpus-screen replay.  Only ``documents`` is sized,
  with planted exact and near duplicates of corpus documents (odd
  doc_ids are the delta the replay streams, even ones the corpus).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# 2017-11-26 09:00:00 UTC, the start of the reference's UserBehavior.csv
BASE_S = 1511686800

SIZES = {
    "batch_jobs": {
        "user_behavior": 60_000,
        "ub_users": 10_000,
        "ub_items": 20_000,
        "ub_span_s": 6 * 3600,
        "apache": 5_000,
        "apache_urls": 800,
        "apache_span_s": 900,
        "marketing": 15_000,
        "marketing_span_s": 1800,
        "ad_clicks": 6_000,
        "ad_users": 1_000,
        "ad_ads": 30,
        "ad_heavy_pairs": 4,
        "ad_span_s": 600,
        "login": 12_000,
        "login_users": 1_200,
        "login_span_s": 2 * 3600,
        "orders": 8_000,
        "orders_span_s": 2 * 3600,
    },
    "stream_jobs": {
        "events": 9_000,
        "users": 150,
        "items": 200,
        "batches": 3,
        "span_s": 3 * 3600,
        "late_window_s": 30,
        "documents": 200,
    },
}

# the reference's UserBehavior behaviour mix
UB_BEHAVIORS = np.array(["pv", "cart", "fav", "buy"])
UB_P = [0.89, 0.055, 0.03, 0.025]
MKT_BEHAVIORS = np.array(["CLICK", "DOWNLOAD", "INSTALL", "UNINSTALL"])
MKT_CHANNELS = np.array(["wechat", "weibo", "appstore", "huaweistore"])
PROVINCES = np.array(
    ["beijing", "shanghai", "guangdong", "zhejiang", "jiangsu",
     "sichuan", "hubei", "hunan", "fujian", "shandong"]
)
PAY_CHANNELS = np.array(["wechat", "alipay"])

# corpus vocabulary: English content words plus the stopwords the
# registry's language gate counts; German documents fail that gate
EN_WORDS = (
    "data stream window batch join key value table query spark order item "
    "user click page view count state time event sink source index shard "
    "merge filter group sort hash scan row column plan task job stage cache "
    "model train corpus token text score rank top list set map reduce"
).split()
EN_STOP = ["the", "a", "of", "and"]
DE_WORDS = "der die und das ist nicht mit von zu auf".split()


def _zipf_ranks(rng: np.random.Generator, n: int, n_keys: int, a: float) -> np.ndarray:
    """``n`` draws from a Zipf(a) law over ``n_keys`` ranks (0-based)."""
    w = 1.0 / np.arange(1, n_keys + 1) ** a
    return rng.choice(n_keys, size=n, p=w / w.sum())


PARTS = 4  # part files per batch input, so a scan uses every core


def _write_parts(path: str, lines: list[str]) -> dict:
    """``lines`` as PARTS contiguous part files in the new dir ``path``."""
    os.makedirs(path)
    size = 0
    for i in range(PARTS):
        part = os.path.join(path, f"part-{i:05d}")
        with open(part, "w") as f:
            f.write("".join(lines[i * len(lines) // PARTS:(i + 1) * len(lines) // PARTS]))
        size += os.path.getsize(part)
    return {"rows": len(lines), "bytes": size}


def _write_csv(path: str, df: pd.DataFrame) -> dict:
    return _write_parts(path, df.to_csv(header=False, index=False).splitlines(keepends=True))


def _unique_seconds(rng, n_groups: int, per_group: np.ndarray, span: int) -> np.ndarray:
    """Per group, ``per_group[g]`` distinct offsets in ``[0, span)``."""
    out = []
    for k in per_group:
        out.append(np.sort(rng.choice(span, size=int(k), replace=False)))
    return np.concatenate(out) if out else np.array([], dtype=np.int64)


def gen_batch(rng: np.random.Generator, out: str) -> dict:
    s = SIZES["batch_jobs"]
    files: dict[str, dict] = {}

    # UserBehavior.csv: user,item,category,behavior,ts(s)
    n = s["user_behavior"]
    items = _zipf_ranks(rng, n, s["ub_items"], 1.1)
    item_ids = rng.permutation(s["ub_items"])[items] + 1
    ub = pd.DataFrame({
        "user_id": rng.integers(1, s["ub_users"] + 1, n),
        "item_id": item_ids,
        "category_id": (item_ids * 7919) % 900 + 1,
        "behavior": UB_BEHAVIORS[rng.choice(4, size=n, p=UB_P)],
        "ts": np.sort(BASE_S + rng.integers(0, s["ub_span_s"], n)),
    })
    files["user_behavior"] = _write_csv(os.path.join(out, "UserBehavior.csv"), ub)

    # apache.log: "ip - - dd/MM/yyyy:HH:mm:ss +0000 METHOD url"
    n = s["apache"]
    urls = _zipf_ranks(rng, n, s["apache_urls"], 1.0)
    ts = np.sort(BASE_S + rng.integers(0, s["apache_span_s"], n))
    stamp = pd.to_datetime(ts, unit="s").strftime("%d/%m/%Y:%H:%M:%S")
    ips = rng.integers(1, 255, (n, 2))
    methods = np.where(rng.random(n) < 0.9, "GET", "POST")
    files["apache_log"] = _write_parts(os.path.join(out, "apache.log"), [
        f"10.0.{a}.{b} - - {t} +0000 {m} /page/{u}.html\n"
        for a, b, t, m, u in zip(ips[:, 0], ips[:, 1], stamp, methods, urls)
    ])

    # marketing.csv: user(uuid-like),behavior,channel,ts(ms)
    n = s["marketing"]
    mk = pd.DataFrame({
        "user_id": [f"u{x:08x}" for x in rng.integers(0, 2**32, n)],
        "behavior": MKT_BEHAVIORS[rng.integers(0, 4, n)],
        "channel": MKT_CHANNELS[rng.integers(0, 4, n)],
        "ts_ms": np.sort(BASE_S * 1000 + rng.integers(0, s["marketing_span_s"] * 1000, n)),
    })
    files["marketing"] = _write_csv(os.path.join(out, "marketing.csv"), mk)

    # AdClickLog.csv: user,ad,province,city,ts(s).  Every (user, ad)
    # pair clicks at distinct seconds, so "the first N clicks" has no
    # ties; a few planted pairs click more than the blacklist threshold.
    n_heavy = s["ad_heavy_pairs"]
    heavy = rng.integers(101, 150, n_heavy)
    n_rest = s["ad_clicks"] - int(heavy.sum())
    pair_u = rng.integers(1, s["ad_users"] + 1, n_rest)
    pair_a = rng.integers(1, s["ad_ads"] + 1, n_rest)
    light = pd.DataFrame({"user_id": pair_u, "ad_id": pair_a})
    # heavy pairs use users outside the light range, so they are unique
    heavy_df = pd.DataFrame({
        "user_id": np.repeat(np.arange(n_heavy) + s["ad_users"] + 1, heavy),
        "ad_id": np.repeat(rng.integers(1, s["ad_ads"] + 1, n_heavy), heavy),
    })
    ad = pd.concat([light, heavy_df], ignore_index=True)
    ad = ad.sort_values(["user_id", "ad_id"], kind="stable").reset_index(drop=True)
    sizes = ad.groupby(["user_id", "ad_id"], sort=True).size().to_numpy()
    ad["ts"] = BASE_S + _unique_seconds(rng, len(sizes), sizes, s["ad_span_s"])
    prov = rng.integers(0, len(PROVINCES), len(ad))
    ad["province"] = PROVINCES[prov]
    ad["city"] = [f"{p}_c{c}" for p, c in zip(PROVINCES[prov], rng.integers(0, 5, len(ad)))]
    ad = ad[["user_id", "ad_id", "province", "city", "ts"]].sort_values("ts", kind="stable")
    files["ad_click"] = _write_csv(os.path.join(out, "AdClickLog.csv"), ad)

    # LoginLog.csv: user,ip,type(success|fail),ts(s).  Each user logs in
    # at distinct seconds (the strict pair definition needs a total
    # order) inside one session; a fifth of the users retry fast (a
    # 40 s session, mostly failing), the rest slowly.
    n_users = s["login_users"]
    per_user = rng.multinomial(s["login"], np.full(n_users, 1 / n_users))
    fast = rng.random(n_users) < 0.2
    session = np.where(fast, 40, 1200)
    per_user = np.minimum(per_user, session)
    start = rng.integers(0, s["login_span_s"] - 1200, n_users)
    lts = np.concatenate([
        start[u] + np.sort(rng.choice(session[u], size=int(k), replace=False))
        for u, k in enumerate(per_user)
    ])
    users = np.repeat(np.arange(1, n_users + 1), per_user)
    fail_rate = np.where(fast, 0.6, 0.1)[users - 1]
    lg = pd.DataFrame({
        "user_id": users,
        "ip": [f"192.168.{a}.{b}" for a, b in rng.integers(0, 255, (len(users), 2))],
        "event_type": np.where(rng.random(len(users)) < fail_rate, "fail", "success"),
        "ts": BASE_S + lts,
    }).sort_values("ts", kind="stable")
    files["login_log"] = _write_csv(os.path.join(out, "LoginLog.csv"), lg)

    # OrderLog.csv: order,type(create|pay),tx,ts(s) and ReceiptLog.csv:
    # tx,channel,ts(s).  Pays land 1 s-40 min after create (the timeout
    # is 15 min); a few pays have no create; receipts land within ±8 s
    # of their pay (the join bound is 5 s), some receipts have no pay.
    n_o = s["orders"]
    oid = np.arange(1, n_o + 1) + 34700
    create_ts = BASE_S + rng.integers(0, s["orders_span_s"], n_o)
    has_create = rng.random(n_o) >= 0.02
    has_pay = rng.random(n_o) < 0.8
    pay_ts = create_ts + rng.integers(1, 2400, n_o)
    tx = np.array([f"tx{x:010x}" for x in rng.integers(0, 2**40, n_o)])
    creates = pd.DataFrame({
        "order_id": oid[has_create], "event_type": "create", "tx_id": "",
        "ts": create_ts[has_create],
    })
    pays = pd.DataFrame({
        "order_id": oid[has_pay], "event_type": "pay", "tx_id": tx[has_pay],
        "ts": pay_ts[has_pay],
    })
    orders = pd.concat([creates, pays]).sort_values(["ts", "order_id"], kind="stable")
    files["order_log"] = _write_csv(os.path.join(out, "OrderLog.csv"), orders)
    has_receipt = rng.random(int(has_pay.sum())) < 0.9
    r_tx = tx[has_pay][has_receipt]
    r_ts = pay_ts[has_pay][has_receipt] + rng.integers(-8, 9, int(has_receipt.sum()))
    n_orphan = n_o // 50
    rc = pd.DataFrame({
        "tx_id": np.concatenate([r_tx, [f"rx{x:010x}" for x in rng.integers(0, 2**40, n_orphan)]]),
        "pay_channel": PAY_CHANNELS[rng.integers(0, 2, len(r_tx) + n_orphan)],
        "ts": np.concatenate([r_ts, BASE_S + rng.integers(0, s["orders_span_s"], n_orphan)]),
    }).sort_values(["ts", "tx_id"], kind="stable")
    files["receipt_log"] = _write_csv(os.path.join(out, "ReceiptLog.csv"), rc)
    return {"files": files}


EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


def _events_log(rng: np.random.Generator, out: str) -> dict:
    """The events log as micro-batch files.

    Views, clicks and errors; a fortieth of the errors are followed by a
    second error of the same user 1.5 s later (the login-fail pairs).
    Events are time-ordered and cut into equal-span files; an event in
    the last ``late_window_s`` of a file moves to the next file with
    probability 0.3 — out of order, but inside the 60 s watermark.
    """
    s = SIZES["stream_jobs"]
    span_ms = s["span_s"] * 1000
    n = s["events"]
    etype = np.array(["view", "click", "error"])[rng.choice(3, size=n, p=[0.8, 0.1, 0.1])]
    user = rng.integers(1, s["users"] + 1, n)
    ts_ms = rng.integers(0, span_ms, n)
    burst = np.flatnonzero(etype == "error")[: n // 40]
    first, second = burst[::2][: len(burst) // 2], burst[1::2]
    ts_ms[second] = np.minimum(ts_ms[first] + 1500, span_ms - 1)
    user[second] = user[first]
    ev = pd.DataFrame({"user_id": user, "ts_ms": ts_ms, "event_type": etype})
    ev = ev.sort_values(["ts_ms", "user_id"], kind="stable").reset_index(drop=True)
    ev["event_id"] = np.arange(len(ev))
    ev["value"] = np.round(rng.random(len(ev)) * 50, 2)
    items = _zipf_ranks(rng, len(ev), s["items"], 1.2)
    ev["props"] = [f'{{"k": {k}}}' for k in items]

    nb = s["batches"]
    cut = span_ms // nb
    batch = (ev["ts_ms"] // cut).clip(upper=nb - 1).to_numpy()
    tail = (ev["ts_ms"].to_numpy() % cut) >= cut - s["late_window_s"] * 1000
    move = tail & (batch < nb - 1) & (rng.random(len(ev)) < 0.3)
    batch = batch + move
    ev["batch"] = batch
    stream_dir = os.path.join(out, "event_batches")
    os.makedirs(stream_dir)
    files = {}
    base_ms = BASE_S * 1000
    for b in range(nb):
        part = ev[ev["batch"] == b].sample(frac=1.0, random_state=int(rng.integers(2**31)))
        tbl = pa.table({
            "event_id": part["event_id"].to_numpy(),
            "ts": pa.array((part["ts_ms"].to_numpy() + base_ms) * 1000, pa.timestamp("us", tz="UTC")),
            "user_id": part["user_id"].to_numpy(),
            "event_type": part["event_type"].to_numpy(),
            "value": part["value"].to_numpy(),
            "props": part["props"].to_numpy(),
        }, schema=EVENTS_SCHEMA)
        path = os.path.join(stream_dir, f"batch_{b:03d}.parquet")
        pq.write_table(tbl, path)
        # the file source orders files by modification time
        t = 1_600_000_000 + 10 * b
        os.utime(path, (t, t))
        files[f"batch_{b:03d}"] = {
            "rows": len(part),
            "bytes": os.path.getsize(path),
            "users": int(part["user_id"].nunique()),
        }
    # the same log in one file, for the checks
    flat = ev.assign(ts_us=(ev["ts_ms"] + base_ms) * 1000)
    flat[["event_id", "ts_us", "user_id", "event_type", "value", "props", "batch"]].to_parquet(
        os.path.join(out, "events_flat.parquet"), index=False
    )
    return {"files": files, "moved_late": int(move.sum())}


def _doc_text(rng: np.random.Generator, n_tok: int, lang: str) -> str:
    if lang == "de":
        words = rng.choice(DE_WORDS + EN_WORDS[:10], size=n_tok)
    else:
        words = rng.choice(EN_WORDS, size=n_tok)
        stop = rng.random(n_tok) < 0.2
        words[stop] = rng.choice(EN_STOP, size=int(stop.sum()))
    return " ".join(words)


def _corpus(rng: np.random.Generator, out: str) -> dict:
    """The ten testdata tables; ``documents`` carries the work.

    Even doc_ids are the corpus, odd ones the delta.  Planted in the
    delta: exact copies of corpus documents, near copies (two tokens
    changed) of corpus documents, and German documents the language
    gate drops.
    """
    n = SIZES["stream_jobs"]["documents"]
    texts: list[str] = []
    kind: list[str] = []
    for doc_id in range(n):
        r = rng.random()
        src = int(rng.integers(0, max(doc_id // 2, 1))) * 2  # an earlier corpus doc
        if doc_id % 2 == 1 and doc_id > 20 and r < 0.10:
            texts.append(texts[src])
            kind.append("exact_corpus")
        elif doc_id % 2 == 1 and doc_id > 20 and r < 0.20:
            toks = texts[src].split()
            for i in rng.choice(len(toks), size=2, replace=False):
                toks[i] = str(rng.choice(EN_WORDS))
            texts.append(" ".join(toks))
            kind.append("near_corpus")
        else:
            lang = "de" if rng.random() < 0.08 else "en"
            texts.append(_doc_text(rng, int(rng.integers(60, 160)), lang))
            kind.append(lang)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": ["de" if k == "de" else "en" for k in kind],
        "source": ["bench"] * n,
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    path = os.path.join(out, "documents.parquet")
    pq.write_table(docs, path)
    _small_tables(rng, out)
    return {
        "files": {"documents": {"rows": n, "bytes": os.path.getsize(path)}},
        "planted": {k: kind.count(k) for k in sorted(set(kind))},
    }


def _small_tables(rng: np.random.Generator, out: str) -> None:
    """The other nine testdata tables, a few rows each: the registry's
    table loader opens all ten."""
    ts = pa.array(np.arange(20) * 1_000_000 + BASE_S * 1_000_000, pa.timestamp("us"))
    i32 = lambda xs: pa.array(xs, pa.int32())  # noqa: E731
    i64 = lambda xs: pa.array(xs, pa.int64())  # noqa: E731
    r5 = range(5)
    tables = {
        "region": {"r_regionkey": i32(r5), "r_name": [f"r{i}" for i in r5]},
        "nation": {"n_nationkey": i32(r5), "n_name": [f"n{i}" for i in r5], "n_regionkey": i32(r5)},
        "customer": {"c_custkey": i64(r5), "c_name": [f"c{i}" for i in r5], "c_nationkey": i32(r5),
                     "c_acctbal": [1.0] * 5, "c_mktsegment": ["BUILDING"] * 5},
        "supplier": {"s_suppkey": i64(r5), "s_name": [f"s{i}" for i in r5], "s_nationkey": i32(r5),
                     "s_acctbal": [1.0] * 5},
        "part": {"p_partkey": i64(r5), "p_name": [f"p{i}" for i in r5], "p_brand": ["b"] * 5,
                 "p_type": ["t"] * 5, "p_size": i32([1] * 5), "p_retailprice": [1.0] * 5},
        "orders": {"o_orderkey": i64(r5), "o_custkey": i64(r5), "o_orderstatus": ["O"] * 5,
                   "o_totalprice": [1.0] * 5, "o_orderdate": ts[:5], "o_orderpriority": ["1-URGENT"] * 5},
        "lineitem": {"l_orderkey": i64(r5), "l_partkey": i64(r5), "l_suppkey": i64(r5),
                     "l_linenumber": i32([1] * 5), "l_quantity": [1.0] * 5, "l_extendedprice": [1.0] * 5,
                     "l_discount": [0.0] * 5, "l_tax": [0.0] * 5, "l_returnflag": ["N"] * 5,
                     "l_linestatus": ["O"] * 5, "l_shipdate": ts[:5]},
        "events": {"event_id": i64(range(20)), "ts": ts, "user_id": i64(rng.integers(1, 5, 20)),
                   "event_type": ["view"] * 20, "value": [1.0] * 20, "props": ['{"k": 1}'] * 20},
        "embeddings": {"vec_id": i64(r5),
                       "embedding": pa.array([[0.1, 0.2, 0.3, 0.4]] * 5, pa.list_(pa.float32())),
                       "label": i32(r5)},
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def gen_stream(rng: np.random.Generator, out: str) -> dict:
    """stream_jobs: the events log and the document corpus side by side."""
    manifest = _events_log(rng, out)
    corpus = _corpus(rng, out)
    manifest["files"].update(corpus["files"])
    manifest["planted"] = corpus["planted"]
    return manifest


GENERATORS = {"batch_jobs": gen_batch, "stream_jobs": gen_stream}


def generate(workload: str, seed: int, out: str) -> dict:
    """Write ``workload``'s inputs for ``seed`` into the new dir ``out``."""
    os.makedirs(out)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    manifest = GENERATORS[workload](rng, out)
    manifest.update({"workload": workload, "seed": seed, "sizes": SIZES[workload]})
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    generate(a.workload, a.seed, a.out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
