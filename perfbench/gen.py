"""Seeded input generator for the graft benchmark.

Everything the engine sees in a benchmark run is written here, from the
seed alone: the base tables (TPC-H-style ``orders`` plus the ``documents``
and ``embeddings`` tables the LLM-data operators read) and, for the
streaming workloads, the change-log files and the generator's own model
of the source table after each file.

Change traffic follows the reference demo (``example_usage.py``):
10 INSERT : 5 UPDATE : 2 DELETE, 100 changes per log file (the reference
``CDC_BATCH_SIZE``), ascending new ids for inserts (SQLite AUTOINCREMENT)
and Zipf-skewed keys over the live rows for updates and deletes, so one
file repeats keys and dedup-to-latest has work.

The same seed gives byte-identical files; ``test_gen.py`` checks that.
"""
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OP_MIX = {"INSERT": 10, "UPDATE": 5, "DELETE": 2}
BATCH_SIZE = 100
ZIPF_A = 1.2

STATUSES = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH_1995 = dt.datetime(1995, 1, 1)
CHANGED_AT_BASE = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

ORDER_FIELDS = [
    ("o_orderkey", pa.int64()),
    ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()),
    ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")),
    ("o_orderpriority", pa.string()),
]
ORDER_TYPE = pa.struct(ORDER_FIELDS)
LOG_SCHEMA = pa.schema([
    ("cdc_id", pa.int64()),
    ("operation", pa.string()),
    ("record_id", pa.int64()),
    ("old_data", ORDER_TYPE),
    ("new_data", ORDER_TYPE),
    ("changed_at", pa.timestamp("us", tz="UTC")),
    ("synced", pa.int32()),
    ("sync_timestamp", pa.timestamp("us", tz="UTC")),
])
MODEL_SCHEMA = pa.schema([("file_idx", pa.int32()), ("deleted", pa.bool_())]
                         + ORDER_FIELDS)

WORDS = ("a the data table row column key value part line order customer "
         "query scan filter join merge sort group window agg batch stream "
         "spark hash vector fast slow big small index shard token corpus "
         "model train eval").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.15, 0.14, 0.13, 0.14]
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10
# one random stream per input set, so phases of one seed are independent
RNG_STREAM = {"fresh": 1, "aged": 2, "batch_mix": 3}


def write(table, path):
    """Deterministic parquet write (no pandas metadata, fixed codec)."""
    pq.write_table(table.replace_schema_metadata(None), path,
                   compression="snappy")


def file_sha256(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _order_row(rng, key, n_cust):
    date = EPOCH_1995 + dt.timedelta(days=int(rng.integers(0, 2404)))
    return (key, int(rng.integers(0, n_cust)), STATUSES[int(rng.integers(3))],
            round(float(rng.uniform(1000.0, 500000.0)), 2), date,
            PRIORITIES[int(rng.integers(5))])


def _rows_to_table(rows, fields):
    schema = pa.schema(fields)
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema)


def orders_rows(rng, n, first_key=0):
    """``n`` order rows with keys from ``first_key`` (drawn column by
    column: the sf0.1 ``orders`` has 150k rows)."""
    n_cust = max(1, n // 10)
    days = rng.integers(0, 2404, size=n)
    cust = rng.integers(0, n_cust, size=n)
    status = rng.integers(3, size=n)
    price = np.round(rng.uniform(1000.0, 500000.0, size=n), 2)
    priority = rng.integers(5, size=n)
    return [(first_key + i, int(cust[i]), STATUSES[status[i]], float(price[i]),
             EPOCH_1995 + dt.timedelta(days=int(days[i])), PRIORITIES[priority[i]])
            for i in range(n)]


def documents_table(rng, n):
    """Random-word documents; one in ten is a near-copy of an earlier one
    (a few words replaced) so the dedup operators find pairs."""
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(len(WORDS)))]
        else:
            ranks = np.minimum(rng.zipf(1.3, size=int(rng.integers(8, 90))), len(WORDS)) - 1
            words = [WORDS[r] for r in ranks]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(range(n), type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.choice(len(LANGS), size=n, p=LANG_P)],
                         type=pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings_table(rng, n):
    """Unit-norm vectors around one centre per label."""
    centres = rng.normal(size=(N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, size=n)
    vecs = centres[labels] + rng.normal(scale=0.8, size=(n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n), type=pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, type=pa.int32()),
    })


class ChangeSource:
    """The generator's model of the replicated source table.

    ``live`` keeps the live keys in a fixed shuffled order (rank 0 is the
    hottest); new inserts join at the cold end.
    """

    def __init__(self, rng, rows, next_id):
        self.rng = rng
        self.rows = {r[0]: r for r in rows}
        self.live = list(self.rows)
        rng.shuffle(self.live)
        self.pos = {k: i for i, k in enumerate(self.live)}
        self.next_id = next_id
        self.n_cust = max(1, len(rows) // 10)
        ops = list(OP_MIX)
        weights = np.array([OP_MIX[o] for o in ops], dtype=float)
        self.ops, self.op_p = ops, weights / weights.sum()

    def _zipf_key(self):
        n = len(self.live)
        while True:
            r = int(self.rng.zipf(ZIPF_A)) - 1
            if r < n:
                return self.live[r]

    def _remove(self, key):
        i = self.pos.pop(key)
        last = self.live.pop()
        if last != key:
            self.live[i] = last
            self.pos[last] = i
        del self.rows[key]

    def change(self):
        """One change as (op, key, old image, new image)."""
        op = self.ops[int(self.rng.choice(len(self.ops), p=self.op_p))]
        if op == "INSERT" or not self.live:
            key = self.next_id
            self.next_id += 1
            new = _order_row(self.rng, key, self.n_cust)
            self.rows[key] = new
            self.pos[key] = len(self.live)
            self.live.append(key)
            return "INSERT", key, None, new
        key = self._zipf_key()
        old = self.rows[key]
        if op == "DELETE":
            self._remove(key)
            return "DELETE", key, old, None
        new = (key, old[1], STATUSES[int(self.rng.integers(3))],
               round(float(self.rng.uniform(1000.0, 500000.0)), 2), old[4],
               old[5])
        self.rows[key] = new
        return "UPDATE", key, old, new


def _as_struct(row):
    return None if row is None else dict(zip([f[0] for f in ORDER_FIELDS], row))


def write_change_files(src, n_files, stage_dir):
    """Write ``n_files`` log files of BATCH_SIZE changes each, contiguous
    ascending cdc ids from 1, and return the model rows (the state after
    file k of every key file k touched) and the keys ever deleted."""
    os.makedirs(stage_dir, exist_ok=True)
    cdc_id = 1
    model = []
    deletes = set()
    for k in range(n_files):
        recs = []
        touched = {}
        for _ in range(BATCH_SIZE):
            op, key, old, new = src.change()
            recs.append({
                "cdc_id": cdc_id, "operation": op, "record_id": key,
                "old_data": _as_struct(old), "new_data": _as_struct(new),
                "changed_at": CHANGED_AT_BASE + dt.timedelta(milliseconds=cdc_id),
                "synced": 0, "sync_timestamp": None})
            cdc_id += 1
            touched[key] = new
            if op == "DELETE":
                deletes.add(key)
        write(pa.Table.from_pylist(recs, schema=LOG_SCHEMA),
              os.path.join(stage_dir, f"log-{k:06d}.parquet"))
        for key, new in sorted(touched.items()):
            model.append((k, new is None) + (new if new is not None
                                             else (key, None, None, None, None, None)))
    return model, deletes


def generate(workload, seed, out, p):
    """Write the inputs of ``workload`` (``batch_mix``, or a stream phase:
    ``fresh``, ``aged``) under ``out`` and return their description (also
    written to ``out/inputs.json``)."""
    rng = np.random.default_rng([seed, RNG_STREAM[workload]])
    os.makedirs(out, exist_ok=True)
    desc = {"workload": workload, "seed": seed, "op_mix": OP_MIX,
            "batch_size": BATCH_SIZE, "key_skew": f"zipf(a={ZIPF_A}) over live keys",
            "insert_keys": "ascending new ids"}
    if workload == "batch_mix":
        write(_rows_to_table(orders_rows(rng, p["orders"]), ORDER_FIELDS),
              f"{out}/orders.parquet")
        write(documents_table(rng, p["documents"]), f"{out}/documents.parquet")
        write(embeddings_table(rng, p["embeddings"]), f"{out}/embeddings.parquet")
        desc.update(orders=p["orders"], documents=p["documents"],
                    embeddings=p["embeddings"])
    else:
        base = orders_rows(rng, p["orders"])
        write(_rows_to_table(base, ORDER_FIELDS), f"{out}/orders.parquet")
        next_id = len(base)
        appends = []
        for i in range(p.get("appends", 0)):
            rows = orders_rows(rng, p["append_rows"], first_key=next_id)
            next_id += len(rows)
            appends.append(rows)
            os.makedirs(f"{out}/appends", exist_ok=True)
            write(_rows_to_table(rows, ORDER_FIELDS), f"{out}/appends/a-{i:04d}.parquet")
        src = ChangeSource(rng, base + [r for a in appends for r in a], next_id)
        model, deletes = write_change_files(src, p["files"], f"{out}/stage")
        write(_rows_to_table(model, MODEL_SCHEMA), f"{out}/model.parquet")
        stable = [k for k in range(p["orders"]) if k not in deletes]
        picks = rng.choice(len(stable), size=min(4096, len(stable)), replace=False)
        desc.update(orders=p["orders"], appends=p.get("appends", 0),
                    append_rows=p.get("append_rows", 0), files=p["files"],
                    stable_keys=[int(stable[i]) for i in sorted(picks)],
                    max_key=int(src.next_id) - 1)
    with open(f"{out}/inputs.json", "w") as f:
        json.dump(desc, f)
    return desc
