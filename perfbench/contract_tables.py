"""The ``contract_mix`` workload's queries and its seeded input tables.

``contract.load_views`` registers ten TPC-H-style tables; the queries of
the mix read only ``documents`` and ``events``. Those two are generated
from the seed with the shapes of the contract's own test tables at scale
factor 0.001 (500 documents of 10-80 words over a 31-word vocabulary,
five languages, 20 sources; 1,000 events over 30 days), but with 8 users
instead of 15: the gap-fill queries build a 43,200-minute grid per user,
and the schedule's time budget is tight. The
other eight are written empty, with their schemas, so that the views
exist.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The contract queries of the mix: the heaviest call of each operator the
# pipeline does not run (curation, gap fill, dedup, BPE training, token
# packing). ``s8_lineage_certify`` is left out: it writes its pipeline
# output to a fixed directory outside the benchmark's work tree.
CONTRACT_QUERIES = (
    "curation_keepset", "w2_gapfill_interp", "dedup_minhash_lsh", "bpe_train_merges",
    "tok_pack_manifest",
)
N_DOCS, N_EVENTS, N_USERS, DAYS = 500, 1_000, 8, 30
WORDS = (
    "a the fast slow big small key row column value data table part line order "
    "customer query scan filter join merge sort hash group agg window batch "
    "stream spark vector dup"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.5, 0.125, 0.125, 0.125, 0.125)
EVENT_TYPES = ("click", "view", "signup", "purchase", "error")

_I32, _I64, _F64, _STR = pa.int32(), pa.int64(), pa.float64(), pa.string()
_TS = pa.timestamp("us")
EMPTY = {
    "region": {"r_regionkey": _I32, "r_name": _STR},
    "nation": {"n_nationkey": _I32, "n_name": _STR, "n_regionkey": _I32},
    "customer": {"c_custkey": _I64, "c_name": _STR, "c_nationkey": _I32,
                 "c_acctbal": _F64, "c_mktsegment": _STR},
    "supplier": {"s_suppkey": _I64, "s_name": _STR, "s_nationkey": _I32, "s_acctbal": _F64},
    "part": {"p_partkey": _I64, "p_name": _STR, "p_brand": _STR, "p_type": _STR,
             "p_size": _I32, "p_retailprice": _F64},
    "orders": {"o_orderkey": _I64, "o_custkey": _I64, "o_orderstatus": _STR,
               "o_totalprice": _F64, "o_orderdate": _TS, "o_orderpriority": _STR},
    "lineitem": {"l_orderkey": _I64, "l_partkey": _I64, "l_suppkey": _I64,
                 "l_linenumber": _I32, "l_quantity": _F64, "l_extendedprice": _F64,
                 "l_discount": _F64, "l_tax": _F64, "l_returnflag": _STR,
                 "l_linestatus": _STR, "l_shipdate": _TS},
    "embeddings": {"vec_id": _I64, "embedding": pa.list_(pa.float32()), "label": _I32},
}


def documents(rng: np.random.Generator) -> pa.Table:
    n_words = rng.integers(10, 81, N_DOCS)
    text = [" ".join(rng.choice(WORDS, n)) for n in n_words]
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), _I64),
        "text": pa.array(text, _STR),
        "lang": pa.array(rng.choice(LANGS, N_DOCS, p=LANG_P), _STR),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, N_DOCS)], _STR),
        "n_chars": pa.array([len(t) for t in text], _I64),
    })


def events(rng: np.random.Generator) -> pa.Table:
    t0 = dt.datetime(2024, 1, 1)
    us = np.sort(rng.integers(0, DAYS * 86_400 * 10**6, N_EVENTS))
    value = np.maximum(np.round(rng.exponential(50.0, N_EVENTS), 2), 0.01)
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), _I64),
        "ts": pa.array([t0 + dt.timedelta(microseconds=int(u)) for u in us], _TS),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), _I64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVENTS), _STR),
        "value": pa.array(value, _F64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)], _STR),
    })


def write_tables(out_dir: str, seed: int) -> None:
    """Write the ten tables as ``<out_dir>/<table>.parquet``."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    pq.write_table(documents(rng), f"{out_dir}/documents.parquet")
    pq.write_table(events(rng), f"{out_dir}/events.parquet")
    for name, cols in EMPTY.items():
        pq.write_table(pa.schema(cols).empty_table(), f"{out_dir}/{name}.parquet")
