"""The workloads. Each calls the program's public job functions in a
closed loop (one caller; the next call starts only after the previous one
returned) and checks every call's output against a DuckDB oracle outside
the timed region. ``migrate`` and ``validate`` are the benchmark's
workloads; ``cdc`` and ``curate`` run once per traced run as their layer
probes (``Workload.probe``).

Every workload has a ``primary`` and a ``variant`` job:

========  ===================================  ======================================
workload  primary (items/s)                    variant (items/s)
========  ===================================  ======================================
migrate   ``migrate()`` cql -> scylla fixture,  ``migrate_resumable()`` savepointed
          exploded timestamps (source rows)     parquet -> parquet chunks (source rows)
validate  ``run_validation()`` direct mode     ``run_validation()`` with hashColumns
          with copyMissingRows (source rows)    a, c, d (source rows)
cdc       streamed change events through       the initial snapshot copy of
          ``snapshot_then_stream`` (events)     ``snapshot_then_stream`` (rows)
curate    ``run_curation()`` to parquet (docs)  none
========  ===================================  ======================================
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

import oracles

EXACT = ("a", "c", "d")  # the regular columns compared without a tolerance


@dataclass
class Call:
    phase: str  # "primary" or "variant"
    items: int
    seconds: float
    ok: bool
    detail: dict = field(default_factory=dict)
    steal: float = 0.0  # share of all CPUs the hypervisor gave other guests during the call


def steal_ticks() -> int:
    """CPU time the hypervisor gave to other guests, summed over all CPUs,
    in clock ticks (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def steal_share(ticks: int, seconds: float) -> float:
    return ticks / os.sysconf("SC_CLK_TCK") / (os.cpu_count() * seconds) if seconds > 0 else 0.0


def _rm(*paths: str) -> None:
    for p in paths:
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) of the parquet files under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class Workload:
    name = ""
    layer = ""  # the layer of the public functions this workload calls
    plan_config = None  # a MigratorConfig whose build_plan() the trace times
    probe = ""  # the workload a traced run of this one runs once, for its layers

    def __init__(self, truth: dict, work: str, con) -> None:
        self.truth = truth
        self.work = work
        self.con = con
        self.facts: dict = {}  # per-layer counts gathered on the way
        os.makedirs(work, exist_ok=True)

    def prepare(self, spark) -> None:
        """Untimed per-session set-up (e.g. oracle expectations)."""

    def clear_samples(self) -> None:
        """Forget the per-call samples gathered so far (by untimed iterations)."""
        for value in self.facts.values():
            if isinstance(value, list):
                value.clear()

    def iteration(self, spark, tracer, phases=("primary", "variant")) -> list[Call]:
        return [call for phase in phases for call in getattr(self, phase)(spark, tracer)]

    def primary(self, spark, tracer) -> list[Call]:
        raise NotImplementedError

    def variant(self, spark, tracer) -> list[Call]:
        raise NotImplementedError

    def _timed(self, tracer, name: str, fn):
        with tracer.span(name, self.layer):
            s0, t0 = steal_ticks(), time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
            return out, dt, steal_share(steal_ticks() - s0, dt)

    def _check(self, tracer, fn):
        with tracer.span("perfbench.check", "perfbench"):
            return fn()

    @property
    def source_dir(self) -> str:
        raise NotImplementedError

    def input_bytes(self) -> int:
        return dir_stats(self.source_dir)[1]

    def output_bytes(self) -> int:
        raise NotImplementedError

    def written_files(self) -> int:
        """Data files the last iteration wrote."""
        raise NotImplementedError


class Migrate(Workload):
    name = "migrate"
    layer = "plans.migrate"
    probe = "cdc"

    def _config(self, **over) -> object:
        from scylla_migrator_spark.config import MigratorConfig

        raw = {
            "source": {"type": "cql-fixture", "path": self.truth["source"], "preserveTimestamps": True,
                       "where": self.truth["where"]},
            "target": {"type": "scylla-fixture", "path": os.path.join(self.work, "exploded"),
                       "explodedTimestampWrite": True},
            "renames": [{"from": "id", "to": "key_id"}],
            "primaryKey": ["key_id"],
        }
        raw.update(over)
        return MigratorConfig.from_dict(raw)

    @property
    def source_dir(self) -> str:
        return self.truth["source"]

    def rows_after_where(self) -> int:
        sql = f"SELECT count(*) FROM read_parquet('{self.source_dir}/*.parquet') WHERE {self.truth['where']}"
        return self.con.sql(sql).fetchone()[0]

    def prepare(self, spark) -> None:
        self.exploded = self.plan_config = self._config()
        self.copy_out = os.path.join(self.work, "copy")
        self.savepoints = os.path.join(self.work, "savepoints")
        self.resumable = self._config(
            source={"type": "parquet", "path": self.truth["source"], "where": self.truth["where"]},
            target={"type": "parquet", "path": self.copy_out},
            savepoints={"path": self.savepoints, "intervalSeconds": 300},
        )
        self.facts["chunk_s"] = []

    def primary(self, spark, tracer) -> list[Call]:
        from scylla_migrator_spark.plans.migrate import migrate

        out = self.exploded.target.path
        with tracer.span("perfbench.restore", "perfbench"):
            _rm(out)
        _, dt, steal = self._timed(tracer, "plans.migrate.migrate", lambda: migrate(spark, self.exploded))
        ok, detail = self._check(tracer, lambda: oracles.check_exploded(self.con, self.truth["source"], self.truth["where"], out))
        self.facts["exploded_rows"] = detail["actual_rows"]
        self.facts["exploded_files"], self.facts["exploded_bytes"] = dir_stats(out)
        return [Call("primary", self.truth["rows"], dt, ok, detail, steal)]

    def variant(self, spark, tracer) -> list[Call]:
        from scylla_migrator_spark.plans.migrate import migrate_resumable

        with tracer.span("perfbench.restore", "perfbench"):
            _rm(self.copy_out, self.savepoints)
        start_ms = time.time() * 1000.0
        _, dt, steal = self._timed(
            tracer, "plans.migrate.migrate_resumable",
            lambda: migrate_resumable(spark, self.resumable),
        )
        ok, detail = self._check(
            tracer, lambda: oracles.check_copy(self.con, self.truth["source"], self.truth["where"], self.copy_out)
        )
        call = Call("variant", self.truth["rows"], dt, ok, detail, steal)
        # savepoint names carry the dump time in epoch ms: one dump after
        # each committed chunk, then the terminal dump
        chunks = len([d for d in os.listdir(self.copy_out) if d.startswith("chunk-")])
        dumps = sorted(int(n.split("_")[1]) for n in os.listdir(self.savepoints) if n.startswith("savepoint_"))
        marks = [start_ms] + dumps[:chunks]
        self.facts["chunk_s"] += [(b - a) / 1000.0 for a, b in zip(marks, marks[1:])]
        self.facts["chunks"] = chunks
        self.facts["dumps"] = len(dumps)
        self.facts["copy_rows"] = detail["actual_rows"]
        self.facts["copy_files"], self.facts["copy_bytes"] = dir_stats(self.copy_out)
        return [call]

    def output_bytes(self) -> int:
        return self.facts["exploded_bytes"]

    def written_files(self) -> int:
        return self.facts["exploded_files"] + self.facts["copy_files"]


class Validate(Workload):
    name = "validate"
    layer = "plans.validate"
    probe = "curate"

    def _config(self, validation: dict):
        from scylla_migrator_spark.config import MigratorConfig

        return MigratorConfig.from_dict({
            "source": {"type": "parquet", "path": self.truth["source"]},
            "target": {"type": "parquet", "path": self.target},
            "primaryKey": ["id"],
            "validation": validation,
        })

    @property
    def source_dir(self) -> str:
        return self.truth["source"]

    def prepare(self, spark) -> None:
        self.target = os.path.join(self.work, "target")
        self.direct = self.plan_config = self._config({"copyMissingRows": True})
        # hash the columns the validator compares exactly (string, int,
        # timestamp), so a digest mismatch is a real difference; the double
        # ``b`` (0.001 tolerance) stays a direct compare. Hashing it too
        # reports within-tolerance rows as failures, because validate()
        # never refines hash mismatches (an open program defect, see README)
        self.hashed = self._config({"hashColumns": list(EXACT)})
        self.expected = oracles.expected_validation_counts(self.con, self.truth["source"], self.truth["target"])
        # the generator's own account must agree with the independent diff
        self.truth_ok = self.expected == oracles.injected_counts(self.truth["per_kind"])

    def _restore(self, tracer) -> None:
        with tracer.span("perfbench.restore", "perfbench"):
            _rm(self.target)
            shutil.copytree(self.truth["target"], self.target)

    def _validate(self, spark, tracer, mode: str, cfg, repaired: int | None) -> tuple[bool, dict, float]:
        from scylla_migrator_spark.plans.validate import run_validation

        self._restore(tracer)
        report, dt, steal = self._timed(tracer, f"plans.validate.{mode}", lambda: run_validation(spark, cfg))
        ok, detail = self._check(tracer, lambda: oracles.check_validation(report, self.expected, repaired))
        return ok and self.truth_ok, detail, dt, steal

    def primary(self, spark, tracer) -> list[Call]:
        ok, detail, dt, steal = self._validate(spark, tracer, "direct", self.direct, self.expected.get("MissingTargetRow", 0))
        detail["repaired_target_complete"] = self._check(tracer, self._repaired_ok)
        files, size = dir_stats(self.target)
        base_files, base_size = dir_stats(self.truth["target"])
        self.facts["repair_files"], self.facts["repair_bytes"] = files - base_files, size - base_size
        return [Call("primary", self.truth["rows"], dt, ok and detail["repaired_target_complete"], detail, steal)]

    def variant(self, spark, tracer) -> list[Call]:
        # V4: a hash mismatch is a differing field value and the unhashed
        # columns compare with tolerances, so the expected counts are the
        # direct-mode counts
        ok, detail, dt, steal = self._validate(spark, tracer, "hash", self.hashed, None)
        return [Call("variant", self.truth["rows"], dt, ok, detail, steal)]

    def _repaired_ok(self) -> bool:
        src = f"(SELECT id FROM read_parquet('{self.truth['source']}/**/*.parquet') WHERE id IS NOT NULL)"
        tgt = f"read_parquet('{self.target}/**/*.parquet')"
        return self.con.sql(f"SELECT count(*) FROM {src} s ANTI JOIN {tgt} t USING (id)").fetchone()[0] == 0

    def input_bytes(self) -> int:
        return dir_stats(self.truth["source"])[1] + dir_stats(self.truth["target"])[1]

    def output_bytes(self) -> int:
        return self.facts["repair_bytes"]  # what the repair appended to the target

    def written_files(self) -> int:
        return self.facts["repair_files"]


class Cdc(Workload):
    name = "cdc"
    layer = "streaming.cdc"

    def prepare(self, spark) -> None:
        self.state = os.path.join(self.work, "state")
        self.checkpoint = os.path.join(self.work, "checkpoint")
        self.schema = spark.read.parquet(self.truth["events"]).schema
        self.facts.update(batch_s=[], apply_s=[], trigger_overhead_ms=[], batch_ms_per_100k=[])
        self.state_sizes = oracles.cdc_state_sizes(self.con, self.truth["snapshot"], self.truth["events"])

    def variant(self, spark, tracer) -> list[Call]:
        return []  # the snapshot copy is timed inside primary's one call

    def primary(self, spark, tracer) -> list[Call]:
        from scylla_migrator_spark.streaming.cdc import CdcReplicator, snapshot_then_stream

        with tracer.span("perfbench.restore", "perfbench"):
            _rm(self.state, self.state + ".staging", self.checkpoint)
        replicator = CdcReplicator(target_path=self.state, key_cols=["id"], value_cols=["v1", "v2"])
        applied: list[tuple[int, float, float]] = []
        apply_batch = replicator.apply_batch

        def timed_apply(batch, batch_id):
            # no job group here: the stream thread carries the query's own
            with tracer.span(f"streaming.cdc.apply_batch.{batch_id}", self.layer, group=False):
                t0 = time.perf_counter()
                apply_batch(batch, batch_id)
                applied.append((batch_id, t0, time.perf_counter()))

        replicator.apply_batch = timed_apply
        snapshot = spark.read.parquet(self.truth["snapshot"])
        stream = spark.readStream.schema(self.schema).option("maxFilesPerTrigger", 1).parquet(self.truth["events"])
        query, snap_s, snap_steal = self._timed(
            tracer, "streaming.cdc.snapshot", lambda: snapshot_then_stream(snapshot, stream, replicator, self.checkpoint)
        )
        t_stream = time.perf_counter()
        _, stream_s, stream_steal = self._timed(tracer, "streaming.cdc.stream", query.awaitTermination)
        failed = query.exception() is not None
        ok, detail = self._check(tracer, lambda: oracles.check_cdc(self.con, self.truth["snapshot"], self.truth["events"], self.state))
        detail["batches"] = len([a for a in applied if a[0] >= 0])
        ok = ok and not failed and detail["batches"] == self.truth["files"]

        # closed-loop batch latency: the interval between consecutive batch
        # completions (the first from the stream's start)
        ends = [t_stream] + [end for bid, _s, end in applied if bid >= 0]
        batch_s = [b - a for a, b in zip(ends, ends[1:])]
        self.facts["batch_s"] += batch_s
        self.facts["apply_s"] += [end - start for bid, start, end in applied if bid >= 0]
        for p in query.recentProgress:
            d = p.durationMs if hasattr(p, "durationMs") else p["durationMs"]
            if "addBatch" in d:
                self.facts["trigger_overhead_ms"].append(d["triggerExecution"] - d["addBatch"])
        for i, s in enumerate(batch_s):
            if i < len(self.state_sizes):
                self.facts["batch_ms_per_100k"].append(s * 1000.0 / (self.state_sizes[i] / 1e5))
        return [
            Call("primary", self.truth["events_total"], stream_s, ok, detail, stream_steal),
            Call("variant", self.truth["keys"], snap_s, ok, {}, snap_steal),
        ]


class Curate(Workload):
    name = "curate"
    layer = "plans.curate"
    min_tokens = 20
    max_top_bigram_frac = 0.2

    def _config(self, target: dict):
        from scylla_migrator_spark.plans.curate import CurationConfig

        return CurationConfig.from_dict({
            "source": {"type": "parquet", "path": self.truth["corpus"]},
            "idColumn": "doc_id",
            "textColumn": "text",
            "stages": [
                {"op": "length_filter", "minTokens": self.min_tokens},
                {"op": "pii_redact"},
                {"op": "repetition_filter", "maxTopBigramFrac": self.max_top_bigram_frac},
                {"op": "exact_dedup"},
                {"op": "near_dedup", "numHashes": 16, "bands": 4},
                {"op": "kn_perplexity_filter", "maxAvgNll": 4.0},
            ],
            "target": target,
        })

    def prepare(self, spark) -> None:
        self.out = os.path.join(self.work, "curated")
        self.cfg = self._config({"type": "parquet", "path": self.out})
        self.expected = oracles.curate_expected_counts(
            self.con, self.truth["corpus"], self.min_tokens, self.max_top_bigram_frac
        )
        # stage counts must repeat exactly across runs of one seed
        self.reference_path = os.path.join(os.path.dirname(self.truth["corpus"]), "stage_counts.json")
        self.reference = oracles.load_reference(self.reference_path)

    def primary(self, spark, tracer) -> list[Call]:
        from scylla_migrator_spark.plans.curate import run_curation

        with tracer.span("perfbench.restore", "perfbench"):
            _rm(self.out)
        counts, dt, steal = self._timed(tracer, "plans.curate.run_curation", lambda: run_curation(spark, self.cfg))
        ok, detail = self._check(tracer, lambda: oracles.check_curate(counts, self.expected, self.reference))
        if self.reference is None and ok:
            self.reference = counts
            with open(self.reference_path, "w") as fh:
                json.dump(counts, fh)
        self.facts["survivors"] = counts
        return [Call("primary", self.truth["docs"], dt, ok, detail, steal)]

    def lsh_candidate_precision(self, spark) -> float:
        """Share of the MinHash-LSH candidate pairs over the whole corpus that
        are true duplicates (both documents from one generated family)."""
        from scylla_migrator_spark.analytics.dedup import minhash_lsh_candidates

        with open(self.truth["families"]) as fh:
            family = {int(k): v for k, v in json.load(fh).items()}
        corpus = spark.read.parquet(self.truth["corpus"])
        pairs = minhash_lsh_candidates(corpus, "text", "doc_id", num_hashes=16, bands=4).select("id_a", "id_b").collect()
        true = sum(1 for a, b in pairs if a in family and family[a] == family.get(b))
        return true / len(pairs) if pairs else 0.0

    def variant(self, spark, tracer) -> list[Call]:
        return []


WORKLOADS = {w.name: w for w in (Migrate, Validate, Cdc, Curate)}
