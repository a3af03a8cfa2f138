"""Seeded generator for the benchmark's input tables.

Produces the ten fixture tables (see FIXTURES.md for their schemas) with the
distributions `graft.Soak` documents for its 10x corpus: uniform keys,
fixed date spans, 2-decimal money, Exp(50) event values, a 30-token
vocabulary with a rare `dup` token and ~1/625 exact-duplicate documents,
isotropic unit 64-dim embeddings.  Every value is a function of
(seed, table, column tag, row id) through a 64-bit mixer, so the same seed
gives byte-identical tables and another seed gives another corpus of the
same shape.

Each table is one parquet file with one row group, like the test fixtures
described in FIXTURES.md.  A corpus directory carries a `_gen_params` marker; a directory
whose marker does not match the requested (seed, scale, version) is
regenerated, so a stale corpus is never reused.
"""
import datetime
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = "perfbench-gen-1"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "the",
         "row", "agg", "key", "query", "a", "scan", "batch"]

M1 = np.uint64(0xBF58476D1CE4E5B9)
M2 = np.uint64(0x94D049BB133111EB)
GOLD = np.uint64(0x9E3779B97F4A7C15)


def _tag(seed, tag):
    d = hashlib.sha256(f"{seed}|{tag}".encode()).digest()
    return np.uint64(int.from_bytes(d[:8], "little"))


def mix(seed, tag, ids):
    """splitmix64 of (id, seed, tag): uint64 array, one value per id."""
    with np.errstate(over="ignore"):
        z = ids.astype(np.uint64) * GOLD + _tag(seed, tag)
        z = (z ^ (z >> np.uint64(30))) * M1
        z = (z ^ (z >> np.uint64(27))) * M2
        return z ^ (z >> np.uint64(31))


def uint(seed, tag, ids, m):
    """Uniform integer in [0, m) per id, as int64."""
    return (mix(seed, tag, ids) % np.uint64(m)).astype(np.int64)


def unit(seed, tag, ids):
    """Uniform double in (0, 1) per id."""
    return ((mix(seed, tag, ids) >> np.uint64(11)).astype(np.float64) + 0.5) / float(1 << 53)


def sizes(sf):
    return {
        "lineitem": int(6_000_000 * sf), "orders": int(1_500_000 * sf),
        "customer": int(150_000 * sf), "part": int(200_000 * sf),
        "supplier": max(int(10_000 * sf), 10), "events": int(1_000_000 * sf),
        "users": max(int(15_000 * sf), 15), "documents": int(50_000 * sf),
        "embeddings": int(20_000 * sf),
    }


def _days(base, offsets):
    start = np.datetime64(base, "us")
    return pa.array(start + offsets.astype("timedelta64[D]").astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _pick(words, idx):
    return pa.array(np.array(words, dtype=object)[idx], type=pa.string())


def _write(table, path):
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def lineitem_table(seed, n, n_orders, n_parts, n_supps):
    ids = np.arange(n, dtype=np.int64)
    u = lambda t, m: uint(seed, f"li.{t}", ids, m)
    return pa.table({
        "l_orderkey": u("ok", n_orders),
        "l_partkey": u("pk", n_parts),
        "l_suppkey": u("sk", n_supps),
        "l_linenumber": (u("ln", 7) + 1).astype(np.int32),
        "l_quantity": (u("qty", 50) + 1).astype(np.float64),
        "l_extendedprice": (u("px", 10409924) + 90068).astype(np.float64) / 100.0,
        "l_discount": u("disc", 11).astype(np.float64) / 100.0,
        "l_tax": u("tax", 9).astype(np.float64) / 100.0,
        "l_returnflag": _pick(["A", "N", "R"], u("rf", 3)),
        "l_linestatus": _pick(["F", "O"], u("ls", 2)),
        "l_shipdate": _days("1995-01-02", u("ship", 2498)),
    })


def _documents(seed, n):
    ids = np.arange(n, dtype=np.int64)
    # ~1/625 rows reuse an earlier row's text seed: exact duplicates that
    # land in another source, so cross-source dedup has real work
    tseed = np.where(ids % 625 == 624, ids - 624, ids)
    n_tok = uint(seed, "doc.len", tseed, 91) + 10
    pos = np.arange(100, dtype=np.int64)
    grid = tseed[:, None] * 128 + pos[None, :]
    tok = uint(seed, "doc.tok", grid.ravel(), 30).reshape(grid.shape)
    dup = (uint(seed, "doc.dup", grid.ravel(), 1000) == 0).reshape(grid.shape)
    words = np.array(VOCAB + ["dup"], dtype=object)
    tok = np.where(dup, 30, tok)
    texts = [" ".join(words[tok[i, :n_tok[i]]]) for i in range(n)]
    lang_u = uint(seed, "doc.lang", ids, 100)
    lang = np.select([lang_u < 41, lang_u < 56, lang_u < 71, lang_u < 86],
                     ["en", "zh", "es", "fr"], "de")
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(lang.astype(object), type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(seed, n):
    ids = np.arange(n, dtype=np.int64)
    cell = (ids[:, None] * 64 + np.arange(64)[None, :]).ravel()
    g = np.sqrt(-2.0 * np.log(unit(seed, "emb.u1", cell))) * \
        np.cos(2.0 * np.pi * unit(seed, "emb.u2", cell))
    g = g.reshape(n, 64)
    v = (g / np.sqrt((g * g).sum(axis=1, keepdims=True))).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel(), type=pa.float32()), 64)
    return pa.table({
        "vec_id": ids,
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": uint(seed, "emb.label", ids, 10).astype(np.int32),
    })


def _events(seed, n, n_users):
    ids = np.arange(n, dtype=np.int64)
    span = 30 * 86400 * 1_000_000
    spacing = span // n
    t_us = 1_704_067_200_000_000 + ids * spacing + uint(seed, "ev.jit", ids, max(spacing, 1))
    return pa.table({
        "event_id": ids,
        "ts": pa.array(t_us.astype("datetime64[us]"), type=pa.timestamp("us")),
        "user_id": uint(seed, "ev.user", ids, n_users),
        "event_type": _pick(["click", "view", "purchase", "signup", "error"],
                            uint(seed, "ev.type", ids, 5)),
        "value": np.round(-50.0 * np.log(unit(seed, "ev.val", ids)), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in uint(seed, "ev.k", ids, 100)],
                          type=pa.string()),
    })


def generate(out_dir, seed, sf):
    """Write all ten tables for (seed, sf) into out_dir.

    Reuses out_dir when its marker matches; otherwise rebuilds it from scratch.
    """
    params = f"{GEN_VERSION} seed={seed} sf={sf}"
    marker = os.path.join(out_dir, "_gen_params")
    if os.path.exists(marker) and open(marker).read() == params:
        return
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    n = sizes(sf)
    ids = lambda k: np.arange(n[k], dtype=np.int64)
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")

    _write(lineitem_table(seed, n["lineitem"], n["orders"], n["part"], n["supplier"]),
           p("lineitem"))
    o = ids("orders")
    _write(pa.table({
        "o_orderkey": o,
        "o_custkey": uint(seed, "o.cust", o, max(n["orders"] // 10, 1)),
        "o_orderstatus": _pick(["O", "F", "P"], uint(seed, "o.st", o, 3)),
        "o_totalprice": (uint(seed, "o.price", o, 49899228) + 100191).astype(np.float64) / 100.0,
        "o_orderdate": _days("1995-01-01", uint(seed, "o.day", o, 2405)),
        "o_orderpriority": _pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                                 uint(seed, "o.pri", o, 5)),
    }), p("orders"))
    c = ids("customer")
    _write(pa.table({
        "c_custkey": c,
        "c_name": pa.array([f"Customer#{i:09d}" for i in c], type=pa.string()),
        "c_nationkey": uint(seed, "c.nat", c, 25).astype(np.int32),
        "c_acctbal": (uint(seed, "c.bal", c, 1100001) - 100000).astype(np.float64) / 100.0,
        "c_mktsegment": _pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                              uint(seed, "c.seg", c, 5)),
    }), p("customer"))
    pk = ids("part")
    _write(pa.table({
        "p_partkey": pk,
        "p_name": pa.array([f"part name {k}" for k in uint(seed, "p.nm", pk, 64)], type=pa.string()),
        "p_brand": pa.array([f"Brand#{k + 1}" for k in uint(seed, "p.br", pk, 25)], type=pa.string()),
        "p_type": pa.array([f"TYPE{k}" for k in uint(seed, "p.ty", pk, 6)], type=pa.string()),
        "p_size": (uint(seed, "p.sz", pk, 50) + 1).astype(np.int32),
        "p_retailprice": (uint(seed, "p.rp", pk, 10001) + 90000).astype(np.float64) / 100.0,
    }), p("part"))
    s = ids("supplier")
    _write(pa.table({
        "s_suppkey": s,
        "s_name": pa.array([f"Supplier#{i:09d}" for i in s], type=pa.string()),
        "s_nationkey": uint(seed, "s.nat", s, 25).astype(np.int32),
        "s_acctbal": (uint(seed, "s.bal", s, 1100001) - 100000).astype(np.float64) / 100.0,
    }), p("supplier"))
    _write(pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], type=pa.string()),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }), p("nation"))
    _write(pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], type=pa.string()),
    }), p("region"))
    _write(_events(seed, n["events"], n["users"]), p("events"))
    _write(_documents(seed, n["documents"]), p("documents"))
    _write(_embeddings(seed, n["embeddings"]), p("embeddings"))
    with open(marker, "w") as f:
        f.write(params)


def stage_snapshots(out_dir, seed, count, rows):
    """Write `count` dated lineitem-shaped snapshots of `rows` rows each,
    named `lineitem_<yyyymmdd>.parquet` from 2023-01-01 on: the artifacts
    the ETL workload lands one per load tick."""
    params = f"{GEN_VERSION} seed={seed} count={count} rows={rows}"
    marker = os.path.join(out_dir, "_gen_params")
    if os.path.exists(marker) and open(marker).read() == params:
        return
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    day0 = datetime.date(2023, 1, 1)
    for k in range(count):
        name = f"lineitem_{day0 + datetime.timedelta(days=k):%Y%m%d}.parquet"
        _write(lineitem_table(f"{seed}-snap{k}", rows, max(rows // 4, 1),
                              max(rows // 30, 1), max(rows // 600, 1)),
               os.path.join(out_dir, name))
    with open(marker, "w") as f:
        f.write(params)
