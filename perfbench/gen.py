"""Seeded input generators for the benchmark workloads (numpy + pyarrow,
no Spark).

Every generator is a pure function of ``(seed, sizes)``: the same seed
writes byte-identical files, and the sizes never depend on the seed.
Value domains mirror the testdata tables (TESTDATA.md) and the
reference's daily drop (sources/generator.py), so every registry lane
and its DuckDB oracle run unchanged over the generated directory.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)

CATEGORIES = ("Home", "Beauty", "Clothing", "Grocery", "Movies", "Games", "Garden")
FIRST = ("Ana", "Luis", "Maria", "Juan", "Sofia", "Carlos", "Lucia", "Pedro", "Elena", "Diego")
LAST = ("Garcia", "Lopez", "Martinez", "Rodriguez", "Perez", "Sanchez", "Romero", "Torres")
GENDERS = ("M", "F", "Male", "f", "Other")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, table): adding a table never
    shifts another table's values."""
    return np.random.default_rng([seed, *stream.encode()])


def _pick(rng: np.random.Generator, options, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(options, dtype=object)[rng.choice(len(options), n, p=p)], pa.string())


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def corpus(out_dir: str, seed: int, docs: int, vectors: int) -> dict:
    """Documents + unit-norm 64-d embeddings shaped like the testdata
    corpus: 10-100 tokens from a 30-word vocabulary, five percent planted
    near-duplicates (an earlier document plus the token ``dup``) and a
    few exact copies."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "documents")
    vocab = np.asarray(VOCAB, dtype=object)
    lengths = r.integers(10, 101, docs)
    texts = [" ".join(vocab[r.integers(0, len(vocab), k)]) for k in lengths]
    for i in r.choice(np.arange(docs // 2, docs), docs // 20, replace=False):
        texts[i] = texts[r.integers(0, docs // 2)] + " dup"
    for i in r.choice(np.arange(docs // 2, docs), max(2, docs // 600), replace=False):
        texts[i] = texts[r.integers(0, docs // 2)]
    documents = pa.table({
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(r, LANGS, docs, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    r = _rng(seed, "embeddings")
    v = r.standard_normal((vectors, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(vectors), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), 64).cast(
            pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, vectors), pa.int32()),
    })
    nbytes = _write(documents, os.path.join(out_dir, "documents.parquet"))
    nbytes += _write(embeddings, os.path.join(out_dir, "embeddings.parquet"))
    return {"rows": docs + vectors, "bytes": nbytes, "documents": docs}


def daily_drops(out_dir: str, seed: int, days: int, orders_per_day: int) -> dict:
    """``days`` reference-shaped daily drops under ``out_dir/day_NNN``:
    header-CSV directories ``orders_csv``, ``products_csv``,
    ``users_csv`` and the ``user_info.json`` envelope. Domains follow
    the reference generator at a backfill's scale: some Product_IDs
    dangle, user_info is a superset of users, gender is dirty. The
    dimension snapshot is the same every day (hard links); each day
    has its own orders."""
    n_users, n_info, n_products = 3000, 5000, 100
    r = _rng(seed, "dims")
    prod_ids = np.arange(2, n_products + 2)
    dims = {
        "products_csv": pa.table({
            "Id": pa.array(prod_ids, pa.int64()),
            "Name": pa.array([f"Product {i}" for i in prod_ids], pa.string()),
            "Category": _pick(r, CATEGORIES, n_products),
            "Price": pa.array(r.integers(1000, 100001, n_products), pa.int64()),
        }),
        "users_csv": pa.table({
            "Id": pa.array(np.arange(1, n_users + 1), pa.int64()),
            "Document": pa.array(np.arange(1, n_users + 1) + 299_999, pa.int64()),
        }),
    }
    first = np.asarray(FIRST, dtype=object)[r.integers(0, len(FIRST), n_info)]
    last = np.asarray(LAST, dtype=object)[r.integers(0, len(LAST), n_info)]
    bday = np.datetime64("1964-01-01") + r.integers(0, 15687, n_info)
    gender = np.asarray(GENDERS, dtype=object)[r.integers(0, len(GENDERS), n_info)]
    area, line = r.integers(100, 1000, n_info), r.integers(1000, 10000, n_info)
    info = [
        {"document": 300_000 + i, "name": f"{first[i]} {last[i]}",
         "birthday": f"{bday[i]}T00:00:00", "gender": gender[i],
         "email": f"{first[i].lower()}.{last[i].lower()}{300_000 + i}@example.com",
         "phone": f"({area[i]}) 555-{line[i]}"}
        for i in range(n_info)
    ]
    rows = nbytes = 0
    snapshot: list[str] = []
    for day in range(days):
        d = os.path.join(out_dir, f"day_{day:03d}")
        r = _rng(seed, f"day{day}")
        orders = pa.table({
            "Fecha": pa.array([str(np.datetime64("2024-04-01") + day)] * orders_per_day, pa.string()),
            "Product_ID": pa.array(r.integers(1, n_products + 11, orders_per_day), pa.int64()),
            "User_ID": pa.array(r.integers(1, n_users + 1, orders_per_day), pa.int64()),
        })
        written = [(os.path.join(d, "orders_csv", "part-00000.csv"), orders)]
        if day == 0:
            written += [(os.path.join(d, n, "part-00000.csv"), t) for n, t in dims.items()]
        for p, t in written:
            os.makedirs(os.path.dirname(p), exist_ok=True)
            pacsv.write_csv(t, p, pacsv.WriteOptions(quoting_style="none"))
        if day == 0:
            p = os.path.join(d, "user_info.json")
            with open(p, "w") as f:
                json.dump({"status": 200, "data": info}, f)
            snapshot = [os.path.relpath(p, d) for p, _ in written[1:]] + ["user_info.json"]
        else:
            for rel in snapshot:
                os.makedirs(os.path.dirname(os.path.join(d, rel)), exist_ok=True)
                os.link(os.path.join(out_dir, "day_000", rel), os.path.join(d, rel))
        rows += orders_per_day + n_products + n_users + n_info
        nbytes += sum(os.path.getsize(os.path.join(root, n))
                      for root, _, names in os.walk(d) for n in names)
    return {"rows": rows, "bytes": nbytes, "days": days, "orders_per_day": orders_per_day}
