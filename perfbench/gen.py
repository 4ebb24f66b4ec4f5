"""Seeded input generator for the job-level benchmark.

Independent of the program under test: numpy draws the rows, pyarrow writes
the parquet files, in this one process. The same (seed, sizes) always gives
byte-identical inputs. Inputs are cached under ``<cache>/<workload>-<key>``
where the key hashes the seed, the sizes and this file's source, so editing
the generator can never serve stale inputs.

Each generator returns a JSON-able ``truth`` dict (paths plus the facts the
oracles need, e.g. injected discrepancy counts) that is stored beside the
data as ``truth.json``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Measured sizes. ``cdc`` and ``curate`` run once per traced run as layer
# probes (see run.py), so they are small.
SIZES = {
    "migrate": {"rows": 150_000, "files": 32},
    "validate": {"rows": 80_000, "files": 8, "discrepancy_share": 0.005},
    "cdc": {"keys": 5_000, "files": 16, "events_per_file": 500},
    "curate": {"docs": 300},
}

# Small inputs for the untimed warm-up passes: the ``migrate`` one is the
# warm-up job of every set-up, the others run once before each layer probe.
TINY = {
    "migrate": {"rows": 4_000, "files": 4},
    "cdc": {"keys": 500, "files": 1, "events_per_file": 100},
    "curate": {"docs": 100},
}

REGULAR = ("a", "b", "c", "d")
WT_BASE = 1_700_000_000_000_000  # epoch-µs writetimes
TS_BASE = 1_600_000_000_000  # epoch-ms timestamps


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _write_split(table: pa.Table, directory: str, files: int) -> None:
    os.makedirs(directory, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        _write(table.slice(bounds[i], bounds[i + 1] - bounds[i]), os.path.join(directory, f"part-{i:04d}.parquet"))


def cql_table(rng: np.random.Generator, n: int, null_pk_share: float = 0.002) -> pa.Table:
    """A CQL-shaped table: bigint PK ``id`` (some nulls), regular columns
    a string / b double / c int / d timestamp, and per-column
    ``_ttl``/``_writetime`` companions. Most columns of a row share one
    (ttl, writetime) pair; some differ and some are (null, null), so the
    exploded write yields between one and four rows per source row."""
    ids = rng.permutation(n).astype(np.int64) * 7 + 1
    id_mask = rng.random(n) < null_pk_share
    words = np.array(["alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa", "zeta"])
    a = np.char.add(words[rng.integers(0, len(words), n)], rng.integers(0, 10_000, n).astype(str))
    b = np.round(rng.normal(100.0, 25.0, n), 4)
    c = rng.integers(-100, 1_000, n).astype(np.int32)
    c_mask = rng.random(n) < 0.01
    d = TS_BASE + rng.integers(0, 10**10, n)
    ttl0 = np.where(rng.random(n) < 0.5, 86_400, 3_600).astype(np.int32)
    wt0 = WT_BASE + rng.integers(0, 10**9, n)
    cols = {
        "id": pa.array(ids, mask=id_mask),
        "a": pa.array(a),
        "b": pa.array(b),
        "c": pa.array(c, mask=c_mask),
        "d": pa.array(d.astype("datetime64[ms]"), type=pa.timestamp("ms", tz="UTC")),
    }
    for col in REGULAR:
        kind = rng.random(n)
        shifted = kind < 0.2  # own writetime -> its own exploded group
        unset = (kind >= 0.2) & (kind < 0.3)  # (null, null) pair
        cols[f"{col}_ttl"] = pa.array(ttl0, mask=unset)
        cols[f"{col}_writetime"] = pa.array(wt0 + shifted * 1_000 * (1 + REGULAR.index(col)), mask=unset)
    return pa.table(cols)


def gen_migrate(root: str, seed: int, rows: int, files: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    table = cql_table(rng, rows)
    _write_split(table, os.path.join(root, "source"), files)
    return {"source": os.path.join(root, "source"), "rows": rows, "where": "c >= 0"}


# discrepancy kinds injected into the validation target, one per row
INJECT = (
    "missing", "extra", "text_out", "float_out", "float_in", "ttl_out", "ttl_in", "wt_out", "wt_in",
)
INJECT_DELTA = {
    "float_out": 1.0, "float_in": 0.0004,  # floatingPointTolerance 0.001
    "ttl_out": 100_000, "ttl_in": 100,  # ttlToleranceMillis 60000
    "wt_out": 5_000_000, "wt_in": 10,  # writetimeToleranceMillis 1000 (in µs)
}


def gen_validate(root: str, seed: int, rows: int, files: int, discrepancy_share: float) -> dict:
    """Source = a CQL-shaped table; target = its null-PK-free copy with about
    ``discrepancy_share`` of rows carrying one injected discrepancy each,
    spread evenly over the FIXTURES F6 kinds."""
    rng = np.random.default_rng([seed, 2])
    source = cql_table(rng, rows)
    _write_split(source, os.path.join(root, "source"), files)
    target = source.filter(pc.is_valid(source["id"]))
    # rows with a non-null a_ttl can take any injection (b is never null)
    eligible = np.flatnonzero(target["a_ttl"].is_valid().to_numpy(zero_copy_only=False))
    per_kind = max(1, int(round(rows * discrepancy_share / len(INJECT))))
    picked = rng.choice(eligible, size=per_kind * len(INJECT), replace=False)
    groups = {k: picked[i * per_kind : (i + 1) * per_kind] for i, k in enumerate(INJECT)}
    cols = {name: target[name].to_numpy(zero_copy_only=False).copy() for name in ("a", "b", "a_ttl", "a_writetime")}
    cols["a"][groups["text_out"]] = np.char.add(cols["a"][groups["text_out"]].astype(str), "~")
    cols["b"][groups["float_out"]] += INJECT_DELTA["float_out"]
    cols["b"][groups["float_in"]] += INJECT_DELTA["float_in"]
    for kind, col in (("ttl", "a_ttl"), ("wt", "a_writetime")):
        for side in ("out", "in"):
            idx = groups[f"{kind}_{side}"]
            cols[col][idx] = cols[col][idx] + INJECT_DELTA[f"{kind}_{side}"]
    for name, values in cols.items():
        mask = target[name].is_null().to_numpy(zero_copy_only=False)
        target = target.set_column(
            target.schema.get_field_index(name), name, pa.array(values, type=target.schema.field(name).type, mask=mask)
        )
    keep = np.ones(target.num_rows, dtype=bool)
    keep[groups["missing"]] = False
    extra = target.take(groups["extra"])
    extra = extra.set_column(0, "id", pa.array(-1 - np.arange(per_kind, dtype=np.int64)))
    target = pa.concat_tables([target.filter(keep), extra])
    os.makedirs(os.path.join(root, "target"))
    _write(target, os.path.join(root, "target", "part-0000.parquet"))
    return {
        "source": os.path.join(root, "source"),
        "target": os.path.join(root, "target"),
        "rows": rows,
        "per_kind": per_kind,
    }


def gen_cdc(root: str, seed: int, keys: int, files: int, events_per_file: int) -> dict:
    """Snapshot of ``keys`` live keys, then ``files`` change-event files:
    INSERT of new keys, MODIFY and REMOVE of known keys, exact replays of
    earlier events and out-of-order events older than the key's snapshot
    version."""
    rng = np.random.default_rng([seed, 3])
    schema = pa.schema(
        [("id", pa.int64()), ("ts", pa.int64()), ("event_id", pa.int64()), ("op", pa.string()),
         ("v1", pa.string()), ("v2", pa.int64())]
    )
    snap_ids = np.arange(keys, dtype=np.int64)
    snapshot = pa.table(
        {"id": snap_ids, "ts": rng.integers(0, 1_000, keys), "event_id": np.arange(keys) + 10**9,
         "op": np.full(keys, "INSERT"), "v1": np.char.add("s", rng.integers(0, 10**6, keys).astype(str)),
         "v2": rng.integers(0, 10**6, keys)},
        schema=schema,
    )
    _write(snapshot, os.path.join(root, "snapshot.parquet"))
    os.makedirs(os.path.join(root, "events"))
    next_key, event_id, history = keys, 0, []
    for f in range(files):
        kind = rng.random(events_per_file)
        n = events_per_file
        ids = rng.integers(0, next_key, n)
        new = kind < 0.40
        ids[new] = next_key + np.arange(int(new.sum()))
        next_key += int(new.sum())
        op = np.where(new, "INSERT", np.where(kind < 0.80, "MODIFY", "REMOVE"))
        ts = 10_000 + f * n + np.arange(n)
        late = kind >= 0.95  # older than any snapshot version: must never win
        ts[late] = rng.integers(-1_000, 0, int(late.sum()))
        eid = event_id + np.arange(n)
        event_id += n
        batch = pa.table(
            {"id": ids.astype(np.int64), "ts": ts.astype(np.int64), "event_id": eid.astype(np.int64),
             "op": op, "v1": np.char.add("e", rng.integers(0, 10**6, n).astype(str)),
             "v2": rng.integers(0, 10**6, n)},
            schema=schema,
        )
        if history:  # exact replays of earlier events (at-least-once delivery)
            old = pa.concat_tables(history)
            batch = pa.concat_tables([batch, old.take(rng.integers(0, old.num_rows, n // 10))])
        history.append(batch)
        _write(batch, os.path.join(root, "events", f"events-{f:04d}.parquet"))
    return {
        "snapshot": os.path.join(root, "snapshot.parquet"),
        "events": os.path.join(root, "events"),
        "keys": keys,
        "files": files,
        "events_total": sum(t.num_rows for t in history),
    }


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    syll = np.array(["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "da", "pe", "gu", "ha", "ze", "fo"])
    parts = rng.integers(0, len(syll), (n, 3))
    words = np.unique(np.char.add(np.char.add(syll[parts[:, 0]], syll[parts[:, 1]]), syll[parts[:, 2]]))
    return words


def gen_curate(root: str, seed: int, docs: int) -> dict:
    """A corpus with stated shares: natural text from a sparse bigram chain,
    short stubs, exact duplicates, near duplicates (a few tokens edited),
    PII-bearing documents, degenerate repetitive documents and word-salad
    spam (high perplexity)."""
    rng = np.random.default_rng([seed, 4])
    vocab = _vocab(rng, 4_000)
    v = len(vocab)
    succ = rng.integers(0, v, (v, 6))  # each word has six likely successors

    def natural(length: int) -> list[str]:
        w = int(rng.integers(0, v))
        out = []
        for _ in range(length):
            out.append(vocab[w])
            w = int(succ[w, rng.integers(0, 6)]) if rng.random() < 0.9 else int(rng.integers(0, v))
        return out

    shares = {"short": 0.05, "exact_dup": 0.08, "near_dup": 0.08, "pii": 0.10, "repetitive": 0.04, "spam": 0.04}
    texts: list[str] = []
    kinds: list[str] = []
    family: list[int] = []  # duplicate family (the base doc's index), -1 if none
    for i in range(docs):
        r = rng.random()
        acc = 0.0
        kind = "natural"
        for k, s in shares.items():
            acc += s
            if r < acc:
                kind = k
                break
        if kind in ("exact_dup", "near_dup") and not any(kd == "natural" for kd in kinds):
            kind = "natural"
        fam = -1
        if kind == "short":
            toks = natural(int(rng.integers(3, 15)))
        elif kind in ("exact_dup", "near_dup"):
            bases = [j for j in range(max(0, i - 200), i) if kinds[j] == "natural"] or [
                j for j, kd in enumerate(kinds) if kd == "natural"
            ]
            base = bases[int(rng.integers(0, len(bases)))]
            toks = texts[base].split(" ")
            if kind == "near_dup":
                toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, v))]
            fam = base
            family[base] = base
        elif kind == "repetitive":
            pair = natural(2)
            toks = pair * int(rng.integers(15, 40))
        elif kind == "spam":
            toks = list(vocab[rng.integers(0, v, int(rng.integers(30, 120)))])
        else:
            toks = natural(int(rng.integers(25, 140)))
            if kind == "pii":
                toks = list(toks)
                for _ in range(int(rng.integers(1, 3))):
                    pii = rng.choice(
                        [f"{toks[0]}{int(rng.integers(0, 999))}@mail.example.org",
                         f"{int(rng.integers(200, 999))}-{int(rng.integers(200, 999))}-{int(rng.integers(1000, 9999))}",
                         f"10.{int(rng.integers(0, 255))}.{int(rng.integers(0, 255))}.{int(rng.integers(1, 254))}"]
                    )
                    toks.insert(int(rng.integers(0, len(toks))), str(pii))
        texts.append(" ".join(toks))
        kinds.append(kind)
        family.append(fam)
    ids = np.arange(docs, dtype=np.int64) * 3 + 5
    table = pa.table({"doc_id": ids, "text": texts, "lang": ["en"] * docs, "kind": kinds})
    os.makedirs(os.path.join(root, "corpus"))
    _write(table, os.path.join(root, "corpus", "part-0000.parquet"))
    fam_ids = {int(ids[i]): int(ids[f]) for i, f in enumerate(family) if f >= 0}
    with open(os.path.join(root, "families.json"), "w") as fh:
        json.dump(fam_ids, fh)
    return {"corpus": os.path.join(root, "corpus"), "docs": docs, "families": os.path.join(root, "families.json")}


GENERATORS = {"migrate": gen_migrate, "validate": gen_validate, "cdc": gen_cdc, "curate": gen_curate}


def cache_key(workload: str, seed: int, sizes: dict) -> str:
    with open(__file__, "rb") as fh:
        src = fh.read()
    blob = json.dumps({"w": workload, "seed": seed, "sizes": sizes}, sort_keys=True).encode()
    return hashlib.sha256(blob + src).hexdigest()[:16]


def ensure_inputs(cache_root: str, workload: str, seed: int, sizes: dict | None = None) -> tuple[dict, float]:
    """Return (truth, seconds spent generating; 0.0 on a cache hit)."""
    sizes = sizes or SIZES[workload]
    root = os.path.join(cache_root, f"{workload}-{seed}-{cache_key(workload, seed, sizes)}")
    done = os.path.join(root, "truth.json")
    if os.path.exists(done):
        with open(done) as fh:
            return json.load(fh), 0.0
    t0 = time.perf_counter()
    if os.path.exists(root):
        shutil.rmtree(root)
    os.makedirs(root)
    truth = GENERATORS[workload](root, seed, **sizes)
    with open(done + ".tmp", "w") as fh:
        json.dump(truth, fh)
    os.replace(done + ".tmp", done)  # the marker is written last
    return truth, time.perf_counter() - t0
