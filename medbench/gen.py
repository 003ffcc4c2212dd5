"""Seeded input generation for the three workloads.

Everything here is numpy + pyarrow: the engine never builds its own
inputs. Table shapes follow the TPC-H-style schemas the engine's
queries read (orders, customer, lineitem, documents), so the pipeline
specs and gold builder run unchanged. The same seed always gives the
same files, byte for byte.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH = dt.datetime(1994, 1, 1)
RUN_DATE0 = dt.date(2024, 1, 1)


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream...) so adding draws to
    one input never shifts another."""
    return np.random.default_rng([seed, *stream])


def _ts(days: np.ndarray) -> pa.Array:
    micros = (days.astype(np.int64) * 86_400_000_000
              + int(EPOCH.timestamp()) * 1_000_000)
    return pa.array(micros, type=pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _planted(rng, n: int, share: float = 0.02) -> np.ndarray:
    """Mask of exactly round(share * n) rule violations: a fixed count
    keeps every table under the 10% breaker at any size."""
    mask = np.zeros(n, dtype=bool)
    mask[rng.choice(n, int(round(share * n)), replace=False)] = True
    return mask


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return path


# ---------------------------------------------------------------------------
# medallion_batch: one raw slice per run_date
# ---------------------------------------------------------------------------

def run_date(b: int) -> str:
    return (RUN_DATE0 + dt.timedelta(days=b)).isoformat()


def medallion_batch(seed: int, b: int, out_dir: str, n_orders: int) -> dict:
    """Raw orders/customer/lineitem files for batch ``b``.

    Keys are disjoint across batches, so a batch's gold partition
    depends on its own raw files only. Each table carries planted rule
    violations (about 2%, well under the 10% breaker) and re-sent
    natural keys whose newer copy differs in the columns gold reads.
    Returns the file paths and the planted reject counts.
    """
    rng = rng_for(seed, 1, b)
    n_cust = max(8, n_orders // 5)
    cust0 = b * 1_000_000 + 1
    ckeys = np.arange(cust0, cust0 + n_cust, dtype=np.int64)
    seg = rng.choice(SEGMENTS, n_cust).astype(object)
    acct = _money(rng, -999, 9999, n_cust)
    # re-sent customers: newer copy (higher acctbal) moves segment
    dup_c = rng.choice(n_cust, max(1, n_cust // 25), replace=False)
    c_key = np.concatenate([ckeys, ckeys[dup_c]])
    c_seg = np.concatenate([seg, rng.choice(SEGMENTS, len(dup_c)).astype(object)])
    c_acct = np.concatenate([acct, acct[dup_c] + 10_000.0])
    bad_c = _planted(rng, len(c_key))
    c_seg[bad_c] = rng.choice(["", "  ", None], int(bad_c.sum()))
    customer = pa.table({
        "c_custkey": pa.array(c_key),
        "c_name": pa.array([f"Customer#{k:09d}" for k in c_key]),
        "c_nationkey": pa.array(rng.integers(0, 25, len(c_key)).astype(np.int32)),
        "c_acctbal": pa.array(c_acct),
        "c_mktsegment": pa.array(list(c_seg), type=pa.string()),
    })

    okeys = np.arange(b * 10_000_000 + 1, b * 10_000_000 + 1 + n_orders, dtype=np.int64)
    # 95% of orders reference this batch's customers, the rest a key no
    # batch has (gold files them under UNKNOWN)
    o_cust = np.where(rng.random(n_orders) < 0.95,
                      rng.choice(ckeys, n_orders), -okeys)
    o_day = rng.integers(0, 2400, n_orders)
    o_price = _money(rng, 900, 500_000, n_orders)
    dup_o = rng.choice(n_orders, max(1, n_orders // 30), replace=False)
    o_key = np.concatenate([okeys, okeys[dup_o]])
    o_custk = np.concatenate([o_cust, np.where(
        rng.random(len(dup_o)) < 0.5, rng.choice(ckeys, len(dup_o)), o_cust[dup_o])])
    o_days = np.concatenate([o_day, o_day[dup_o] + 1])
    o_prices = np.concatenate([o_price, o_price[dup_o] + 1.0])
    bad_o = _planted(rng, len(o_key))
    o_prices[bad_o] = -o_prices[bad_o]
    orders = pa.table({
        "o_orderkey": pa.array(o_key),
        "o_custkey": pa.array(o_custk),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], len(o_key))),
        "o_totalprice": pa.array(o_prices),
        "o_orderdate": _ts(o_days),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, len(o_key))),
    })

    per_order = rng.integers(1, 8, n_orders)
    l_ok = np.repeat(okeys, per_order)
    l_ln = np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(np.int32)
    n_li = len(l_ok)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = _money(rng, 900, 100_000, n_li)
    disc = rng.integers(0, 11, n_li) / 100.0
    ship = np.repeat(o_day, per_order) + rng.integers(1, 122, n_li)
    dup_l = rng.choice(n_li, max(1, n_li // 30), replace=False)
    l_okey = np.concatenate([l_ok, l_ok[dup_l]])
    l_lnum = np.concatenate([l_ln, l_ln[dup_l]])
    l_qty = np.concatenate([qty, qty[dup_l]])
    l_price = np.concatenate([price, np.round(price[dup_l] * 1.5, 2)])
    l_disc = np.concatenate([disc, disc[dup_l]])
    l_ship = np.concatenate([ship, ship[dup_l] + 1])
    bad_l = _planted(rng, len(l_okey))
    l_qty[bad_l] = -rng.integers(0, 5, int(bad_l.sum()))
    m = len(l_okey)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_okey),
        "l_partkey": pa.array(rng.integers(1, 200_000, m)),
        "l_suppkey": pa.array(rng.integers(1, 10_000, m)),
        "l_linenumber": pa.array(l_lnum),
        "l_quantity": pa.array(l_qty),
        "l_extendedprice": pa.array(l_price),
        "l_discount": pa.array(l_disc),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], m)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], m)),
        "l_shipdate": _ts(l_ship),
    })
    d = f"{out_dir}/raw/b{b:04d}"
    return {
        "run_date": run_date(b),
        "rows": customer.num_rows + orders.num_rows + lineitem.num_rows,
        "files": {
            "orders": _write(orders, f"{d}/orders.parquet"),
            "customer": _write(customer, f"{d}/customer.parquet"),
            "lineitem": _write(lineitem, f"{d}/lineitem.parquet"),
        },
        "rejects": {
            "orders": int(bad_o.sum()),
            "customer": int(bad_c.sum()),
            "lineitem": int(bad_l.sum()),
        },
    }


# ---------------------------------------------------------------------------
# lake_dml: one lineitem-shaped base table
# ---------------------------------------------------------------------------

LAKE_KEYS = ["l_orderkey", "l_linenumber"]


def lake_base(seed: int, n_rows: int) -> pa.Table:
    """Row-tracked base table, unique on (l_orderkey, l_linenumber),
    sorted by key so file stats follow key ranges. Measures are whole
    numbers so the rollup's integer sums are exact."""
    rng = rng_for(seed, 2)
    n_orders = max(1, n_rows // 4)
    per = rng.integers(1, 8, n_orders)
    ok = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64) * 4, per)[:n_rows]
    ln = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)[:n_rows]
    return lake_rows(rng, ok, ln)


def lake_rows(rng, okeys: np.ndarray, lnums: np.ndarray) -> pa.Table:
    n = len(okeys)
    return pa.table({
        "l_orderkey": pa.array(okeys.astype(np.int64)),
        "l_linenumber": pa.array(lnums.astype(np.int32)),
        "l_partkey": pa.array(rng.integers(1, 200_000, n)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.int64)),
        "l_price_cents": pa.array(rng.integers(90_000, 10_000_000, n)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipyear": pa.array(rng.integers(1992, 1999, n).astype(np.int32)),
    })


# ---------------------------------------------------------------------------
# corpus_ingest: documents with planted twins
# ---------------------------------------------------------------------------

def _vocab(rng, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size)
    words = {"".join(rng.choice(letters, k)) for k in lens}
    return np.array(sorted(words))


def _doc(rng, vocab) -> list[str]:
    return list(rng.choice(vocab, int(rng.integers(40, 90))))


def _mutate(rng, words: list[str], vocab, share: float) -> list[str]:
    """Replace ``share`` of the word positions with fresh draws."""
    out = list(words)
    k = max(1, int(round(share * len(out))))
    for i in rng.choice(len(out), k, replace=False):
        out[i] = str(rng.choice(vocab))
    return out


# planted twin kinds and what the filter policy must do with them
TWIN_EXACT, TWIN_NEAR, TWIN_FAR = "exact", "near", "far"


def corpus(seed: int, n_docs: int, batch_size: int, twin_share: float) -> dict:
    """Corpus documents plus a stream of batches.

    About 80% of the distinct documents seed the corpus; the rest
    arrive in batches of ``batch_size``. A ``twin_share`` of every
    batch is planted twins of documents already in the corpus (the
    seed corpus or an earlier batch's distinct docs): exact copies
    (must drop), one-word edits (Jaccard well above 0.8, dropped by
    the LSH screen with high probability) and 60% rewrites (Jaccard
    far below 0.8, must be kept).
    """
    rng = rng_for(seed, 3)
    # uniform words: unrelated documents share almost no shingles, so
    # the band screen's candidate load is the planted twins, whatever the seed
    vocab = _vocab(rng, 20000)
    texts = [" ".join(_doc(rng, vocab)) for _ in range(n_docs)]
    order = rng.permutation(n_docs)
    n_init = int(n_docs * 0.8)
    init_ids = order[:n_init]
    fresh = list(order[n_init:])
    seen = list(init_ids)  # docs known to be in the corpus
    next_id = n_docs
    batches = []
    while fresh:
        n_twin = int(round(batch_size * twin_share))
        rows = []
        take, fresh = fresh[:batch_size - n_twin], fresh[batch_size - n_twin:]
        for i in take:
            rows.append((int(i), texts[i], None, None))
        for _ in range(n_twin):
            src = int(seen[int(rng.integers(len(seen)))])
            kind = rng.choice([TWIN_EXACT, TWIN_NEAR, TWIN_FAR], p=[0.4, 0.3, 0.3])
            words = texts[src].split(" ")
            if kind == TWIN_NEAR:
                words = _mutate(rng, words, vocab, 1.0 / len(words))
            elif kind == TWIN_FAR:
                words = _mutate(rng, words, vocab, 0.6)
            rows.append((next_id, " ".join(words), str(kind), src))
            next_id += 1
        seen.extend(int(i) for i in take)
        batches.append(rows)
    return {
        "init": [(int(i), texts[i]) for i in sorted(init_ids)],
        "batches": batches,
    }


def docs_table(rows) -> pa.Table:
    return pa.table({
        "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
        "text": pa.array([r[1] for r in rows], type=pa.string()),
    })
