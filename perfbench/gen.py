"""Seeded input generators for the three benchmark workloads.

Everything is built with numpy + pyarrow from ``seed`` alone, so the same
seed gives byte-identical parquet files and the program under test only
ever receives the generated directory paths.

- ``tpch``: the TPC-H-shaped star schema the relational queries read
  (region, nation, customer, supplier, part, orders, lineitem), in the
  same Arrow schema as the engine's synthetic test tables, at scale
  factor ``sf`` (lineitem ~= 6M x sf rows).
- ``llm``: a documents/embeddings corpus built as ``replicas`` ORGANIC
  replicas of one seeded base corpus (the ``tools/scale_llm.py`` scheme):
  replica r > 0 interleaves the token ``r<r>`` between every pair of
  words, so replicas share no word 3-gram while each keeps the base's
  duplicate structure. Exact duplicates are planted verbatim, near
  duplicates as case/whitespace variants (identical shingle sets), so
  both counts scale exactly with ``replicas``. The ``x1`` subdirectory
  holds replica 0 alone, the reference for that invariant.
- ``leads``: dirty raw-lead rows (FIXTURES.md A1 value classes, every
  source column as a string) derived from the generated orders, plus the
  batch schedule the incremental ingest replays: an initial load and
  ``batches`` arrival windows of half updates, half inserts, with a
  soft-deleted share. ``schedule.json`` carries the predicted STG key
  set after every batch.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH_US = int(dt.datetime(1992, 1, 1).timestamp() * 1e6) - int(
    dt.datetime(1970, 1, 1).timestamp() * 1e6
)
DAY_US = 86_400 * 1_000_000
TS = pa.timestamp("us")


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(days: np.ndarray) -> pa.Array:
    return pa.array(EPOCH_US + days.astype(np.int64) * DAY_US, type=pa.int64()).cast(TS)


def _labels(prefix: str, ids: np.ndarray, width: int = 9) -> list[str]:
    return [f"{prefix}{i:0{width}d}" for i in ids.tolist()]


def gen_tpch(out: str, seed: int, sf: float) -> dict:
    """The relational tables at scale ``sf``; returns {table: rows}."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 200)
    os.makedirs(out, exist_ok=True)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")

    ck = np.arange(n_cust)
    _write(pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": _labels("Customer#", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }), f"{out}/customer.parquet")

    sk = np.arange(n_supp)
    _write(pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": _labels("Supplier#", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), f"{out}/supplier.parquet")

    pk = np.arange(n_part)
    retail = np.round(900.0 + (pk % 1000) * 1.01 + rng.integers(0, 100, n_part), 2)
    adjectives = np.array(["small", "large", "shiny", "matte", "burnished"])
    nouns = np.array(["ring", "bolt", "gear", "plate", "valve"])
    _write(pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(
            np.char.add(adjectives[rng.integers(0, 5, n_part)], " "),
            nouns[rng.integers(0, 5, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 6, n_part).astype(str)),
        "p_type": np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE"])[
            rng.integers(0, 4, n_part)
        ],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    }), f"{out}/part.parquet")

    # orders keys are shuffled so files are not sorted on the join key
    ok = rng.permutation(n_ord).astype(np.int64)
    odays = rng.integers(0, 8 * 365, n_ord)
    _write(pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 850.0, 480_000.0, n_ord),
        "o_orderdate": _days(odays),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }), f"{out}/orders.parquet")

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    li_order = np.repeat(ok, lines)
    li_days = np.repeat(odays, lines) + rng.integers(1, 122, n_li)
    li_num = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(li_order, pa.int64()),
        "l_partkey": pa.array(part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(li_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[part], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(li_days),
    }), f"{out}/lineitem.parquet")
    return {
        "region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
        "part": n_part, "orders": n_ord, "lineitem": n_li,
    }


_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pha",
              "qua", "bre", "dro", "gle", "sto", "wen"]


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """Alphabetic pseudo-words, no digits, so no word equals a replica
    token ``r<n>``."""
    words: set[str] = set()
    while len(words) < size:
        k = int(rng.integers(2, 4))
        words.add("".join(rng.choice(_SYLLABLES, k)))
    return np.array(sorted(words))


def _base_docs(rng: np.random.Generator, n_docs: int) -> list[list[str]]:
    """Fresh Zipf-distributed word lists, 84% of the base corpus;
    ``gen_llm`` fills the rest with exact and near copies of them."""
    vocab = _vocabulary(rng, 1500)
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    weights /= weights.sum()
    fresh = int(n_docs * 0.84)
    lengths = rng.integers(12, 80, fresh)
    flat = rng.choice(len(vocab), int(lengths.sum()), p=weights)
    docs = [
        vocab[chunk].tolist()
        for chunk in np.split(flat, np.cumsum(lengths)[:-1])
    ]
    return docs


def gen_llm(out: str, seed: int, base_docs: int, base_vecs: int, replicas: int) -> dict:
    """The organic ``replicas``-fold corpus in ``out`` and replica 0
    alone in ``out/x1``; returns row counts of both."""
    rng = np.random.default_rng([seed, 2])
    fresh = _base_docs(rng, base_docs)
    texts: list[str] = [" ".join(w) for w in fresh]
    words: list[list[str]] = list(fresh)
    varied: set[int] = set()
    while len(texts) < base_docs:
        src = int(rng.integers(0, len(fresh)))
        if rng.random() < 0.5:  # exact duplicate: identical bytes
            texts.append(texts[src])
            words.append(words[src])
        elif src not in varied:
            # near duplicate: same lowered word sequence, new bytes; one
            # per source, as two would differ only in whitespace and
            # become exact duplicates in the replicas
            varied.add(src)
            w = list(words[src])
            w[0] = w[0].upper()
            j = int(rng.integers(1, len(w)))
            texts.append(" ".join(w[:j]) + "  " + " ".join(w[j:]))
            words.append(w)
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    langs = np.array(["en", "de", "fr", "es"])[rng.integers(0, 4, base_docs)]
    sources = np.char.add("src", rng.integers(0, 8, base_docs).astype(str))

    def docs_table(reps: int) -> pa.Table:
        ids, out_text = [], []
        for r in range(reps):
            sep = " " if r == 0 else f" r{r} "
            for i, t in enumerate(texts):
                ids.append(i + r * 10_000_000)
                out_text.append(sep.join(t.split()) if r else t)
        return pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": out_text,
            "lang": np.tile(langs, reps),
            "source": np.tile(sources, reps),
            "n_chars": pa.array([len(t) for t in out_text], pa.int64()),
        })

    dim = 64
    centers = rng.normal(0, 1, (16, dim))
    labels = rng.integers(0, 16, base_vecs)
    base = centers[labels] + rng.normal(0, 0.6, (base_vecs, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)

    def emb_table(reps: int) -> pa.Table:
        parts, ids = [], []
        for r in range(reps):
            noise = 0 if r == 0 else rng.uniform(-0.15, 0.15, base.shape)
            parts.append((base + noise).astype(np.float32))
            ids.append(np.arange(base_vecs, dtype=np.int64) + r * 10_000_000)
        mat = np.concatenate(parts)
        flat = pa.array(mat.reshape(-1), pa.float32())
        offsets = pa.array(np.arange(0, mat.size + 1, dim, dtype=np.int32))
        return pa.table({
            "vec_id": pa.array(np.concatenate(ids), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(np.tile(labels, reps), pa.int32()),
        })

    os.makedirs(f"{out}/x1", exist_ok=True)
    _write(docs_table(replicas), f"{out}/documents.parquet")
    _write(emb_table(replicas), f"{out}/embeddings.parquet")
    _write(docs_table(1), f"{out}/x1/documents.parquet")
    _write(emb_table(1), f"{out}/x1/embeddings.parquet")
    return {
        "documents": base_docs * replicas,
        "embeddings": base_vecs * replicas,
        "x1_documents": base_docs,
        "x1_embeddings": base_vecs,
    }


def _dirty(rng, n, clean: np.ndarray, dirty: list[str | None], share=0.25):
    """``clean`` with ~``share`` of the rows replaced by dirty values."""
    out = clean.astype(object)
    mask = rng.random(n) < share
    picks = rng.integers(0, len(dirty), int(mask.sum()))
    out[mask] = np.array(dirty, dtype=object)[picks]
    return out


def _iso(days: np.ndarray, secs: np.ndarray) -> np.ndarray:
    base = np.datetime64("1992-01-01T00:00:00")
    stamps = base + days.astype("timedelta64[D]") + secs.astype("timedelta64[s]")
    return np.char.replace(np.datetime_as_string(stamps, unit="s"), "T", " ")


def gen_leads(
    out: str, seed: int, orders_path: str, base_rows: int, batches: int,
    batch_rows: int, raw_columns: list[str],
) -> dict:
    """Raw-lead rows for the initial load plus ``batches`` arrival
    windows, and the schedule: per window its upper modifydate bound and
    the STG key set predicted after it."""
    rng = np.random.default_rng([seed, 3])
    orders = pq.read_table(orders_path, columns=["o_orderkey", "o_custkey",
                                                  "o_totalprice"])
    n_new = base_rows + batches * (batch_rows - batch_rows // 2)
    pick = rng.choice(orders.num_rows, n_new, replace=False)
    okey = orders.column("o_orderkey").to_numpy()[pick]
    cust = orders.column("o_custkey").to_numpy()[pick]
    price = orders.column("o_totalprice").to_numpy()[pick]

    # Row i of the raw table: which order it describes (index into the
    # picks), and in which window (0 = initial load) it arrives.
    rows_src: list[np.ndarray] = [np.arange(base_rows)]
    window: list[np.ndarray] = [np.zeros(base_rows, np.int64)]
    live = base_rows
    for b in range(1, batches + 1):
        upd = rng.choice(live, batch_rows // 2, replace=False)
        ins = np.arange(live, live + batch_rows - batch_rows // 2)
        live += len(ins)
        rows_src.append(np.concatenate([upd, ins]))
        window.append(np.full(batch_rows, b, np.int64))
    src = np.concatenate(rows_src)
    win = np.concatenate(window)
    n = len(src)

    # window w owns the modifydate day range [1000 + 10w, 1000 + 10w + 9]
    mday = 1000 + 10 * win + rng.integers(0, 10, n)
    msec = rng.integers(0, 86_400, n)
    modify = _iso(mday, msec)
    create = _iso(mday - rng.integers(0, 900, n), msec)
    null_modify = rng.random(n) < 0.1  # backfilled from createdate
    modify_col = modify.astype(object)
    modify_col[null_modify] = None
    # createdate must still land in the row's window when modifydate is
    # null, or the backfilled watermark column would reorder windows
    create[null_modify] = modify[null_modify]

    k = okey[src]
    guid = np.char.add("g", k.astype(str))
    deleted = rng.random(n) < 0.06
    cols: dict[str, object] = {}
    for c in raw_columns:
        cols[c] = np.char.add(f"{c[:6]}_", (k % 97).astype(str)).astype(object)
    cols.update({
        "leadguid": guid.astype(object),
        "legacyleadid": k.astype(str).astype(object),
        "leadcode": np.char.add("LC", k.astype(str)).astype(object),
        "leadtypeid": _dirty(rng, n, (cust[src] % 9).astype(str),
                             ["3.0", "", "abc", None]),
        "leadcreatedate": _dirty(rng, n, create,
                                 ["03/01/2024", "March 1st 2024", "abc",
                                  "N/A", "--", "2091-01-01", None]),
        "birthdate": _dirty(rng, n, np.full(n, "1980-05-05"), ["junk", None]),
        "age": _dirty(rng, n, (18 + k % 60).astype(str), ["-1", "", None]),
        "subsourceid": np.array(["true", "1", "yes", "t", "false", "0", "no",
                                 "f", "x", "maybe"], dtype=object)[
            rng.integers(0, 10, n)],
        "loandate": _dirty(rng, n, np.full(n, "2020-06-30"), ["2091-01-01"]),
        "consumerdebt": _dirty(rng, n, np.round(price[src] + win, 2).astype(str),
                               ["12.5", "1e3", "NaN", "junk"]),
        "isdeletedsource": np.where(
            deleted, "true",
            np.array(["false", "0", "f", None, "weird"], dtype=object)[
                rng.integers(0, 5, n)]).astype(object),
        "leadattributes": np.where(
            rng.random(n) < 0.7,
            np.char.add(np.char.add('{"a":', (k % 7).astype(str)), ',"b":{"c":2}}'),
            None).astype(object),
        "modifydate": modify_col,
        "createdate": create.astype(object),
        "junk_col": np.full(n, "drop me", dtype=object),
    })
    for omitted in ("utmcampaign", "utmsource"):
        cols.pop(omitted, None)
    os.makedirs(out, exist_ok=True)
    table = pa.table({c: pa.array(v, pa.string()) for c, v in cols.items()})
    _write(table, f"{out}/raw_lead.parquet")

    # Predicted STG keys: the latest row of each key wins; soft-deleted
    # rows stay in STG, as the pass deletes nothing.
    latest_deleted: dict[str, bool] = {}
    keys_after: list[list[str]] = []
    for b in range(batches + 1):
        sel = win == b
        for g, d in zip(guid[sel].tolist(), deleted[sel].tolist()):
            latest_deleted[g] = d
        keys_after.append(sorted(latest_deleted))
    schedule = {
        "bounds": [_iso(np.array([1000 + 10 * b + 9]), np.array([86_399]))[0]
                   for b in range(batches + 1)],
        "keys_after": keys_after,
        "rows_per_window": [int((win == b).sum()) for b in range(batches + 1)],
    }
    with open(f"{out}/schedule.json", "w") as fh:
        json.dump(schedule, fh)
    return {"raw_lead": n, "raw_columns": len(cols)}
