"""Seeded input generator for the benchmark.

``generate(out_dir, seed, size)`` writes three input sets, all derived from
``seed`` and ``size`` alone:

* ``catalog/`` -- the ten catalog tables with the exact column names and
  Arrow types of the engine's sf-shaped test data (``region`` ...
  ``embeddings``). ``size`` is the scale factor: ``lineitem`` has
  ``6e6 * size`` rows, ``orders`` ``1.5e6 * size`` and so on, as in the
  sf0.001 / sf0.01 / sf0.1 layouts.
* ``cdc/`` -- a Debezium-shaped change stream against a customer dimension:
  ``target.parquet`` (the initial SCD2 state, ``1.5e6 * size`` rows),
  ``shards.parquet`` and ``batch_NNNN.parquet`` micro-batches of 1% of the
  target each.
* ``store/`` -- document batches for the incremental dedup stores,
  ``docs_NNNN.parquet``, ``50000 * size`` documents each, with monotone ids.

Distributions, and why each was chosen:

* Catalog text follows the test data: documents are 10-100 words drawn
  uniformly from a 30-word vocabulary, 5% of them are an earlier document's
  text plus the word ``dup`` (the near-duplicate share the dedup kernels are
  written against); languages are 41% ``en`` and 15% each of four others.
  Embeddings are 64-dim unit Gaussian vectors with a uniform label in 0..9,
  so no two are near-duplicates by accident.
* CDC op mix is 20% create / 70% update / 10% delete: an OLTP dimension is
  mostly updated, and deletes are rare but must exercise the soft-delete
  clause. Update and delete keys are Zipf-distributed (exponent 1.1) over
  the live keys, so a batch carries repeated keys and the pre-merge dedup
  and the expire path both have work. 80% of updates change the tracked
  ``city`` column; the rest leave it unchanged so the no-new-version path
  is also taken. Event timestamps are strictly increasing, so the
  earliest-wins dedup never meets a tie.
* PII: ``email`` is the completely hashed column; ``note`` is free text of
  filler words with, at 30% each, a US SSN, a 16-digit Visa number and an
  e-mail address planted in it. Filler words are lowercase letters only, so
  the only PII-pattern matches are the planted ones and a replay can hash
  exactly those. The planted tokens are listed in ``cdc/planted_pii.json``.
* Store batches: 10% of each batch are exact duplicates of unique documents
  from earlier live batches, 10% are near duplicates of them (one word of
  ~50 replaced, embedding perturbed by 1e-3), and 5% repeat a unique
  document of the same batch under a higher id. The rest are unique. Dup
  sources are the unique documents of the previous ``DUP_WINDOW`` batches,
  so duplicates hit recent store buckets as a recurring crawl would.
  ``store/manifest.json`` lists the injected ids per batch.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"]
P_ADJ = ["small", "red", "blue", "cold", "large", "green", "tiny", "old"]
P_NOUN = ["widget", "bolt", "ring", "gear", "nut", "pipe", "valve", "spring"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
CITIES = ["AMS", "BER", "NYC", "SFO", "LON", "PAR", "TOK", "SYD", "MUM", "SAO"]

# CDC stream shape
CDC_OPS = ["c", "u", "d"]
CDC_OP_P = [0.2, 0.7, 0.1]
ZIPF_S = 1.1
CITY_CHANGE_P = 0.8
PII_P = 0.3
N_SHARDS = 4
CDC_BATCHES = 40

# store stream shape
EXACT_DUP_FRAC = 0.10
NEAR_DUP_FRAC = 0.10
INTRA_DUP_FRAC = 0.05
STORE_DIM = 32
DUP_WINDOW = 2
STORE_BATCHES = 60

US_PER_DAY = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in epoch microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01


def params(size: float) -> dict:
    """Row counts derived from the scale factor (recorded in the output)."""
    return {
        "size": size,
        "customer": max(15, round(150_000 * size)),
        "orders": max(150, round(1_500_000 * size)),
        "lineitem": max(600, round(6_000_000 * size)),
        "part": max(20, round(200_000 * size)),
        "supplier": max(5, round(10_000 * size)),
        "events": max(100, round(1_000_000 * size)),
        "users": max(15, round(15_000 * size)),
        "documents": max(50, round(50_000 * size)),
        "embeddings": max(50, round(20_000 * size)),
        "cdc_target_rows": max(100, round(1_500_000 * size)),
        "cdc_batch_rows": max(10, round(15_000 * size)),
        "cdc_batches": CDC_BATCHES,
        "store_batch_docs": max(20, round(50_000 * size)),
        "store_batches": STORE_BATCHES,
    }


def _ts(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype="int64"), type=pa.int64()).cast(
        pa.timestamp("us")
    )


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def _words(rng, n: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


# -- catalog tables ---------------------------------------------------------
def _catalog(rng, p: dict, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    nc, no, nl, npart, ns = (
        p["customer"], p["orders"], p["lineitem"], p["part"], p["supplier"]
    )
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, ns),
    }), f"{out}/supplier.parquet")
    _write(pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [
            f"{P_ADJ[a]} {P_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
    }), f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": money(1000.0, 500000.0, no),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2400, no) * US_PER_DAY),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    }), f"{out}/orders.parquet")
    qty = rng.integers(1, 51, nl).astype("float64")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("R", "A", "N")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, nl) * US_PER_DAY),
    }), f"{out}/lineitem.parquet")
    ne = p["events"]
    _write(pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(np.sort(EPOCH_2024 + rng.integers(0, 30 * US_PER_DAY, ne))),
        "user_id": pa.array(rng.integers(0, p["users"], ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)],
    }), f"{out}/events.parquet")
    nd = p["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_words(rng, int(rng.integers(10, 101))))
    _write(pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out}/documents.parquet")
    nv = p["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    }), f"{out}/embeddings.parquet")


# -- CDC stream -------------------------------------------------------------
REC_TYPE = pa.struct([
    ("id", pa.int64()), ("name", pa.string()), ("email", pa.string()),
    ("city", pa.string()), ("note", pa.string()),
    ("updated_at", pa.timestamp("us")), ("internal_note", pa.string()),
])
ENVELOPE_TYPE = pa.struct([
    ("op", pa.string()), ("before", REC_TYPE), ("after", REC_TYPE),
    ("source", pa.struct([("db", pa.string()), ("server_id", pa.int64())])),
])
TARGET_COLS = [
    "id", "name", "email", "city", "note", "updated_at", "shard_name",
    "row_active", "deleted_flag", "current_flag", "expiry_at",
    "email_hash", "note_hash",
]


def _note(rng, planted: dict) -> str:
    words = _words(rng, int(rng.integers(4, 12))).split()
    for kind in ("ssn", "card", "email"):
        if rng.random() < PII_P:
            if kind == "ssn":
                tok = (f"{rng.integers(100, 900)}-{rng.integers(10, 100)}-"
                       f"{rng.integers(1000, 10000)}")
            elif kind == "card":
                tok = "4" + "".join(str(d) for d in rng.integers(0, 10, 15))
            else:
                tok = f"user{rng.integers(0, 10**6)}@example.com"
            planted.setdefault(tok, kind)
            words.insert(int(rng.integers(0, len(words) + 1)), tok)
    return " ".join(words)


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def anonymize_planted(note: str) -> str:
    """Replace each planted PII token (whitespace-delimited) by its SHA-256."""
    return " ".join(_sha(w) if _is_planted(w) else w for w in note.split(" "))


def _is_planted(w: str) -> bool:
    return "@" in w or any(ch.isdigit() for ch in w)


def _cdc(rng, p: dict, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    planted: dict = {}
    shard_dbs = [(f"db{i}", 100 + i, f"shard-{i}") for i in range(N_SHARDS)]
    _write(pa.table({
        "db": [s[0] for s in shard_dbs],
        "server_id": pa.array([s[1] for s in shard_dbs], pa.int64()),
        "shard_name": [s[2] for s in shard_dbs],
    }), f"{out}/shards.parquet")

    n0 = p["cdc_target_rows"]
    clock = EPOCH_2024 - 10 * US_PER_DAY
    state: dict[int, dict] = {}
    rows = []
    for i in range(n0):
        shard = shard_dbs[i % N_SHARDS]
        rec = {
            "id": i, "name": f"name{i}", "email": f"person{i}@corp.example",
            "city": CITIES[int(rng.integers(0, len(CITIES)))],
            "note": _note(rng, planted), "updated_at": clock + i,
        }
        state[i] = dict(rec, shard=shard)
        rows.append(dict(
            rec, shard_name=shard[2], row_active=True, deleted_flag=False,
            current_flag=True, expiry_at=None, email_hash=_sha(rec["email"]),
            note_hash=anonymize_planted(rec["note"]),
        ))
    cols = {c: [r[c] for r in rows] for c in TARGET_COLS}
    _write(pa.table({
        **cols,
        "id": pa.array(cols["id"], pa.int64()),
        "updated_at": _ts(cols["updated_at"]),
        "expiry_at": pa.array(cols["expiry_at"], pa.timestamp("us")),
    }), f"{out}/target.parquet")

    next_id = n0
    clock = EPOCH_2024
    for b in range(p["cdc_batches"]):
        keys = np.fromiter(state.keys(), dtype="int64")
        # Zipf ranks over a per-batch permutation of the live keys
        ranks = np.arange(1, len(keys) + 1, dtype="float64")
        zp = ranks ** -ZIPF_S
        zp /= zp.sum()
        order = rng.permutation(keys)
        n_ev = p["cdc_batch_rows"]
        picks = iter(order[rng.choice(len(order), n_ev, p=zp)])
        envs = []
        for op in rng.choice(3, n_ev, p=CDC_OP_P):
            clock += int(rng.integers(1, 1_000_000))
            op = CDC_OPS[op]
            picked = int(next(picks))
            if op == "c":
                key, shard = next_id, shard_dbs[next_id % N_SHARDS]
                next_id += 1
                prev = None
                rec = {
                    "id": key, "name": f"name{key}",
                    "email": f"person{key}@corp.example",
                    "city": CITIES[int(rng.integers(0, len(CITIES)))],
                }
            else:
                key = picked
                prev = state[key]
                shard = prev["shard"]
                rec = {k: prev[k] for k in ("id", "name", "email", "city")}
                if op == "u":
                    if rng.random() < CITY_CHANGE_P:
                        rec["city"] = CITIES[
                            (CITIES.index(prev["city"]) + int(rng.integers(1, len(CITIES))))
                            % len(CITIES)
                        ]
                    rec["email"] = f"person{key}.{b}@corp.example"
            rec["note"] = prev["note"] if op == "d" else _note(rng, planted)
            rec["updated_at"] = clock
            rec["internal_note"] = f"internal {key}"
            state[key] = dict(rec, shard=shard)
            envs.append({
                "op": op,
                "before": rec if op == "d" else (
                    dict(prev, internal_note=f"internal {key}") if prev else None
                ),
                "after": None if op == "d" else rec,
                "source": {"db": shard[0], "server_id": shard[1]},
            })
        for e in envs:
            for side in ("before", "after"):
                if e[side] is not None:
                    e[side] = {f.name: e[side].get(f.name) for f in REC_TYPE}
        arr = pa.array(envs, type=ENVELOPE_TYPE)
        _write(pa.table({"value": arr}), f"{out}/batch_{b:04d}.parquet")
    with open(f"{out}/planted_pii.json", "w") as f:
        json.dump(sorted(planted), f)


# -- store stream -----------------------------------------------------------
def _store(rng, p: dict, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    n = p["store_batch_docs"]
    uniques: list[tuple[int, str, np.ndarray]] = []  # (id, text, vec) originals
    manifest = []
    for b in range(p["store_batches"]):
        base = b * n
        pool = [u for u in uniques if u[0] >= (b - DUP_WINDOW) * n]
        kinds = rng.choice(
            4, n,
            p=[1 - EXACT_DUP_FRAC - NEAR_DUP_FRAC - INTRA_DUP_FRAC,
               EXACT_DUP_FRAC, NEAR_DUP_FRAC, INTRA_DUP_FRAC],
        )
        ids, texts, vecs = [], [], []
        exact, near, intra, unique = [], [], [], []
        batch_uniques = []
        for j, kind in enumerate(kinds):
            doc_id = base + j
            if kind in (1, 2) and not pool:
                kind = 0
            if kind == 3 and not batch_uniques:
                kind = 0
            if kind == 0:
                text = _words(rng, int(rng.integers(40, 60)))
                v = rng.standard_normal(STORE_DIM)
                v /= np.linalg.norm(v)
                batch_uniques.append((doc_id, text, v))
                unique.append(doc_id)
            elif kind == 1:
                _, text, v = pool[int(rng.integers(0, len(pool)))]
                exact.append(doc_id)
            elif kind == 2:
                _, src, v = pool[int(rng.integers(0, len(pool)))]
                words = src.split()
                k = int(rng.integers(0, len(words)))
                words[k] = VOCAB[(VOCAB.index(words[k]) + 1) % len(VOCAB)]
                text = " ".join(words)
                v = v + rng.standard_normal(STORE_DIM) * 1e-3
                v /= np.linalg.norm(v)
                near.append(doc_id)
            else:
                _, text, v = batch_uniques[int(rng.integers(0, len(batch_uniques)))]
                intra.append(doc_id)
            ids.append(doc_id)
            texts.append(text)
            vecs.append(np.asarray(v, dtype="float32"))
        uniques.extend(batch_uniques)
        _write(pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
        }), f"{out}/docs_{b:04d}.parquet")
        manifest.append({
            "batch": b, "unique": unique, "exact_dup": exact,
            "near_dup": near, "intra_dup": intra,
        })
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f)


def generate(out_dir: str, seed: int, size: float, parts=("catalog", "cdc", "store")) -> dict:
    """Write the requested input sets under ``out_dir``; return their params.

    Each part draws from its own stream (``seed`` spawned per part), so
    generating one part alone gives the same data as generating all."""
    p = params(size)
    streams = dict(zip(
        ("catalog", "cdc", "store"),
        np.random.SeedSequence(seed).spawn(3),
    ))
    writers = {"catalog": _catalog, "cdc": _cdc, "store": _store}
    for part in parts:
        writers[part](np.random.default_rng(streams[part]), p, os.path.join(out_dir, part))
    with open(os.path.join(out_dir, "params.json"), "w") as f:
        json.dump({"seed": seed, **p}, f)
    return p


def digest(root: str) -> str:
    """Content digest of every parquet/json file under ``root`` (table
    contents, not file bytes, so writer metadata cannot perturb it)."""
    h = hashlib.sha256()
    for dirpath, _dirs, files in sorted(os.walk(root)):
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            if name.endswith(".parquet"):
                t = pq.read_table(path)
                h.update(t.schema.to_string().encode())
                for col in t.columns:
                    h.update(str(col.to_pylist()).encode())
            else:
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()

