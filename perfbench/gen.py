"""Deterministic benchmark inputs, written as one parquet file per table.

The logical content of every table comes from a fixed generator seed, so
every run of a workload processes the same rows and the same answers hold.
The run's ``--seed`` only permutes physical row order (and, in the
workloads, the order in which the program is asked to process its items).
The program under test receives the directory, never the seed.

Schemas follow the engine's fixture tables (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings), so the
registered DuckDB oracles run over these directories unchanged.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Fixed seed of the logical content; the run seed never reaches it.
CONTENT_SEED = 20240101

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
#: the listing derives ``OCG_INST<user_id % 20>``
N_INSTANCES = 20


@dataclass(frozen=True)
class Sizes:
    """Row counts of the generated tables."""

    customers: int = 1500
    suppliers: int = 100
    parts: int = 2000
    orders: int = 15000
    lineitems: int = 60000
    events: int = 100_000
    users: int = 1500
    docs: int = 5000
    embeddings: int = 500
    #: share of documents that copy an earlier one exactly (modulo case
    #: and whitespace) and share that copy it with one token replaced
    exact_dup_share: float = 0.06
    near_dup_share: float = 0.06


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype("int64"), type=pa.timestamp("us"))


def _docs(rng: np.random.Generator, n: int, sizes: Sizes) -> dict:
    lengths = rng.integers(10, 101, n)
    words = [
        " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k)) for k in lengths
    ]
    kind = rng.random(n)
    exact = kind < sizes.exact_dup_share
    near = (kind >= sizes.exact_dup_share) & (
        kind < sizes.exact_dup_share + sizes.near_dup_share
    )
    for i in np.flatnonzero(exact | near):
        if i == 0:
            continue
        src = int(rng.integers(0, i))
        toks = words[src].split()
        if exact[i]:
            # same fingerprint after the engine's lower/trim/space folding
            words[i] = "  " + " ".join(toks).upper() + " "
        else:
            toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            words[i] = " ".join(toks)
    return {
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(words),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(w) for w in words], dtype="int64")),
    }


def _tables(sizes: Sizes) -> dict[str, dict]:
    rng = np.random.default_rng(CONTENT_SEED)
    nc, ns, npart, no, nl = (
        sizes.customers,
        sizes.suppliers,
        sizes.parts,
        sizes.orders,
        sizes.lineitems,
    )
    day = 86_400_000_000
    epoch_1992 = 694_224_000_000_000
    epoch_2024 = 1_704_067_200_000_000
    ev_ts = np.sort(epoch_2024 + rng.integers(0, 30 * day, sizes.events))
    ev_user = rng.integers(0, sizes.users, sizes.events).astype("int64")
    # The three newest backups of every instance (instance = user_id % 20)
    # are planted after the random ones, one minute per instance, at
    # seconds 57, 55 and 52 of that minute. The engine's candidate archives
    # turn second % 3 == 0 into a corrupt ZIP and second % 5 == 0 into a
    # two-member ZIP, so every instance probes all three candidates, is
    # rejected twice by the audit, and publishes the third: each instance
    # restore does the same work.
    end = epoch_2024 + 30 * day
    planted = [
        (end + j * 60_000_000 + sec * 1_000_000, j)
        for j in range(N_INSTANCES)
        for sec in (57, 55, 52)
    ]
    ev_ts = np.concatenate([ev_ts, [t for t, _ in planted]])
    ev_user = np.concatenate([ev_user, [j for _, j in planted]]).astype("int64")
    n_ev = len(ev_ts)
    colours = ("red", "blue", "small", "large", "green", "steel")
    things = ("widget", "bolt", "ring", "gear", "pipe", "valve")
    return {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype="int32")),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype="int32")),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(nc, dtype="int64")),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype("int32")),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2)),
            "c_mktsegment": pa.array(
                rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
                )
            ),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(ns, dtype="int64")),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype("int32")),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, ns), 2)),
        },
        "part": {
            "p_partkey": pa.array(np.arange(npart, dtype="int64")),
            "p_name": pa.array(
                [f"{rng.choice(colours)} {rng.choice(things)}" for _ in range(npart)]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
            "p_type": pa.array(
                rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart)
            ),
            "p_size": pa.array(rng.integers(1, 51, npart).astype("int32")),
            "p_retailprice": pa.array(np.round(900 + np.arange(npart) / 10, 2)),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(no, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, nc, no).astype("int64")),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2)),
            "o_orderdate": _ts(epoch_1992 + rng.integers(0, 2500, no) * day),
            "o_orderpriority": pa.array(
                rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
                )
            ),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, no, nl).astype("int64")),
            "l_partkey": pa.array(rng.integers(0, npart, nl).astype("int64")),
            "l_suppkey": pa.array(rng.integers(0, ns, nl).astype("int64")),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype("int32")),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype("float64")),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, nl), 2)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
            "l_shipdate": _ts(epoch_1992 + rng.integers(0, 2600, nl) * day),
        },
        "events": {
            "event_id": pa.array(np.arange(len(ev_ts), dtype="int64")),
            "ts": _ts(ev_ts),
            "user_id": pa.array(ev_user),
            "event_type": pa.array(
                rng.choice(["signup", "purchase", "view", "click", "error"], n_ev)
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        },
        "documents": _docs(rng, sizes.docs, sizes),
        "embeddings": {
            "vec_id": pa.array(np.arange(sizes.embeddings, dtype="int64")),
            "embedding": pa.array(
                list(rng.normal(0, 0.12, (sizes.embeddings, 64)).astype("float32")),
                type=pa.list_(pa.float32()),
            ),
            "label": pa.array(rng.integers(0, 10, sizes.embeddings).astype("int32")),
        },
    }


def write_inputs(out_dir: str, sizes: Sizes, seed: int) -> None:
    """Write every table to ``out_dir/<name>.parquet``, rows permuted by
    ``seed``. The directory is replaced, so no file of an earlier run of
    the same name survives."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    order_rng = np.random.default_rng(seed)
    for name, cols in _tables(sizes).items():
        t = pa.table(cols)
        t = t.take(order_rng.permutation(t.num_rows))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
