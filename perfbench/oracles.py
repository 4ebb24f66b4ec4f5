"""Output oracles, computed with DuckDB independently of the program.

Every oracle returns ``(ok, detail)``. A digest is ``sum(hash(row))`` over a
fixed typed projection, so it ignores row order and file layout; the same
projection is applied to the expected relation (derived from the generated
inputs) and to what the program wrote.
"""

from __future__ import annotations

import json
import os

import duckdb

from gen import REGULAR

# DuckDB's RE2 and Spark's Java regex agree on these patterns (they are the
# program's documented PII set); keep this copy independent of the program.
PII = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    (r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "[PHONE]"),
)


def connect(threads: int) -> duckdb.DuckDBPyConnection:
    return duckdb.connect(config={"threads": threads})


def _glob(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet')"


def _digest(con, relation_sql: str, cols: list[str]) -> tuple[int, int]:
    row = con.sql(f"SELECT count(*), coalesce(sum(hash({', '.join(cols)})), 0) FROM ({relation_sql})").fetchone()
    return int(row[0]), int(row[1])


def _compare(con, expected_sql: str, actual_sql: str, cols: list[str]) -> tuple[bool, dict]:
    exp = _digest(con, expected_sql, cols)
    act = _digest(con, actual_sql, cols)
    return exp == act, {"expected_rows": exp[0], "actual_rows": act[0], "digest_match": exp[1] == act[1]}


def _kept_source(source: str, where: str) -> str:
    return f"SELECT * FROM {_glob(source)} WHERE id IS NOT NULL AND ({where})"


def exploded_expected_sql(source: str, where: str) -> str:
    """The reference's row explosion (Cassandra.scala:113-169): one output row
    per distinct (ttl, writetime) pair of a row's regular columns; the
    (null, null) pair is dropped when the row has more than one pair."""
    pairs = " UNION ALL ".join(f"SELECT id, {c}_ttl::INTEGER t, {c}_writetime::BIGINT w FROM src" for c in REGULAR)
    cells = []
    for c in REGULAR:
        member = f"(src.{c}_ttl::INTEGER IS NOT DISTINCT FROM g.t AND src.{c}_writetime::BIGINT IS NOT DISTINCT FROM g.w)"
        value = f"epoch_ms(src.{c})" if c == "d" else f"src.{c}"
        cells.append(f"CASE WHEN {member} THEN {value} END AS {c}, {member} AS {c}__set")
    return f"""
        WITH src AS ({_kept_source(source, where)}),
        p AS (SELECT DISTINCT id, t, w FROM ({pairs})),
        g AS (SELECT *, count(*) OVER (PARTITION BY id) AS n FROM p)
        SELECT src.id AS key_id, {', '.join(cells)}, g.t AS ttl, g.w AS writetime
        FROM g JOIN src USING (id)
        WHERE NOT (g.n > 1 AND g.t IS NULL AND g.w IS NULL)"""


EXPLODED_COLS = (
    ["key_id::BIGINT", "a::VARCHAR", "b::DOUBLE", "c::INTEGER", "d::BIGINT"]
    + [f"{c}__set::BOOLEAN" for c in REGULAR]
    + ["ttl::INTEGER", "writetime::BIGINT"]
)


def check_exploded(con, source: str, where: str, output: str) -> tuple[bool, dict]:
    return _compare(con, exploded_expected_sql(source, where), f"SELECT * FROM {_glob(output)}", EXPLODED_COLS)


def check_copy(con, source: str, where: str, output: str) -> tuple[bool, dict]:
    """parquet -> parquet copy: PK renamed to key_id, null PKs and rows
    failing ``where`` dropped, companions stored under ``__meta_``."""
    comp = [f"{c}{s}" for c in REGULAR for s in ("_ttl", "_writetime")]
    expected = f"SELECT id AS key_id, a, b, c, epoch_ms(d) AS d, {', '.join(comp)} FROM ({_kept_source(source, where)})"
    actual = f"SELECT key_id, a, b, c, epoch_ms(d) AS d, {', '.join(f'__meta_{x} AS {x}' for x in comp)} FROM {_glob(output)}"
    cols = ["key_id::BIGINT", "a::VARCHAR", "b::DOUBLE", "c::INTEGER", "d::BIGINT"] + [
        f"{x}::{'INTEGER' if x.endswith('_ttl') else 'BIGINT'}" for x in comp
    ]
    return _compare(con, expected, actual, cols)


def expected_validation_counts(con, source: str, target: str) -> dict[str, int]:
    """Failure entries per kind under the validator's default tolerances
    (floatingPointTolerance 0.001, ttlToleranceMillis 60000,
    writetimeToleranceMillis 1000 compared in µs), one entry per differing
    column, as the reference's RowComparisonFailure reports them."""
    def differs(expr_l: str, expr_r: str, tol: str | None) -> str:
        close = f"abs({expr_l} - {expr_r}) <= {tol}" if tol else f"{expr_l} = {expr_r}"
        return f"CASE WHEN {expr_l} IS NULL AND {expr_r} IS NULL THEN 0 WHEN {expr_l} IS NULL OR {expr_r} IS NULL THEN 1 WHEN {close} THEN 0 ELSE 1 END"

    fields = " + ".join(differs(f"s.{c}", f"t.{c}", "0.001" if c == "b" else None) for c in REGULAR)
    ttls = " + ".join(differs(f"s.{c}_ttl", f"t.{c}_ttl", "60000") for c in REGULAR)
    wts = " + ".join(differs(f"s.{c}_writetime", f"t.{c}_writetime", "1000000") for c in REGULAR)
    src = f"(SELECT * FROM {_glob(source)} WHERE id IS NOT NULL)"
    tgt = f"(SELECT * FROM {_glob(target)})"
    fv, dt, dw = con.sql(
        f"SELECT coalesce(sum({fields}), 0), coalesce(sum({ttls}), 0), coalesce(sum({wts}), 0) FROM {src} s JOIN {tgt} t USING (id)"
    ).fetchone()
    missing = con.sql(f"SELECT count(*) FROM {src} s ANTI JOIN {tgt} t USING (id)").fetchone()[0]
    extra = con.sql(f"SELECT count(*) FROM {tgt} t ANTI JOIN {src} s USING (id)").fetchone()[0]
    out = {
        "MissingTargetRow": int(missing),
        "ExtraTargetRow": int(extra),
        "DifferingFieldValues": int(fv),
        "DifferingTtls": int(dt),
        "DifferingWritetimes": int(dw),
    }
    return {k: v for k, v in out.items() if v}


def injected_counts(per_kind: int) -> dict[str, int]:
    """The generator's own account of what it injected (cross-checks the
    DuckDB diff above): each ``*_out`` kind fails once per row (``text_out``
    and ``float_out`` both as a differing field value), while the ``*_in``
    (within-tolerance) kinds produce no failure."""
    return {
        "MissingTargetRow": per_kind,
        "ExtraTargetRow": per_kind,
        "DifferingFieldValues": 2 * per_kind,
        "DifferingTtls": per_kind,
        "DifferingWritetimes": per_kind,
    }


def check_validation(report, expected: dict[str, int], repaired: int | None) -> tuple[bool, dict]:
    got = {k: int(v) for k, v in report.counts_by_kind.items() if v}
    ok = got == expected and (repaired is None or report.repaired_rows == repaired)
    return ok, {"expected": expected, "got": got, "repaired": report.repaired_rows}


def cdc_expected_sql(snapshot: str, events: str) -> str:
    """Newest (ts, event_id) per key wins; tombstones excluded."""
    return f"""
        SELECT id, ts, event_id, v1, v2 FROM (
          SELECT *, row_number() OVER (PARTITION BY id ORDER BY ts DESC, event_id DESC) AS rn
          FROM (SELECT * FROM read_parquet('{snapshot}') UNION ALL SELECT * FROM read_parquet('{events}/*.parquet'))
        ) WHERE rn = 1 AND op <> 'REMOVE'"""


CDC_COLS = ["id::BIGINT", "ts::BIGINT", "event_id::BIGINT", "v1::VARCHAR", "v2::BIGINT"]


def check_cdc(con, snapshot: str, events: str, state: str) -> tuple[bool, dict]:
    actual = f"SELECT * FROM {_glob(state)} WHERE op <> 'REMOVE'"
    return _compare(con, cdc_expected_sql(snapshot, events), actual, CDC_COLS)


def cdc_state_sizes(con, snapshot: str, events: str) -> list[int]:
    """Stored state rows (tombstones included) before each event file is
    applied: the snapshot's keys plus every distinct key seen so far."""
    files = sorted(f for f in os.listdir(events) if f.endswith(".parquet"))
    sizes = []
    for i in range(len(files)):
        seen = ", ".join(f"'{events}/{f}'" for f in files[:i])
        union = f" UNION SELECT id FROM read_parquet([{seen}])" if i else ""
        sizes.append(int(con.sql(f"SELECT count(*) FROM (SELECT id FROM read_parquet('{snapshot}'){union})").fetchone()[0]))
    return sizes


def curate_expected_counts(con, corpus: str, min_tokens: int, max_top_bigram_frac: float) -> dict[str, int]:
    """Survivors of the first four stages (length, PII redaction,
    repetition, exact dedup) recomputed from the corpus."""
    red = "text"
    for pat, rep in PII:
        red = f"regexp_replace({red}, '{pat}', '{rep}', 'g')"
    con.sql(
        f"""CREATE OR REPLACE TEMP TABLE cur AS
            SELECT doc_id, {red} AS text FROM {_glob(corpus)}
            WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= {min_tokens}"""
    )
    repetitive = con.sql(
        f"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM cur),
            g AS (SELECT doc_id, len(toks) AS n,
                         unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS gram
                  FROM t),
            c AS (SELECT doc_id, n, count(*) AS cnt FROM g GROUP BY doc_id, n, gram)
            SELECT doc_id FROM c GROUP BY doc_id, n
            HAVING round(max(cnt) / (n - 1), 6) > {max_top_bigram_frac}"""
    )
    con.sql("CREATE OR REPLACE TEMP TABLE kept AS SELECT * FROM cur ANTI JOIN repetitive USING (doc_id)")
    n_input = con.sql(f"SELECT count(*) FROM {_glob(corpus)}").fetchone()[0]
    n_len = con.sql("SELECT count(*) FROM cur").fetchone()[0]
    n_rep = con.sql("SELECT count(*) FROM kept").fetchone()[0]
    n_exact = con.sql("SELECT count(DISTINCT text) FROM kept").fetchone()[0]
    return {
        "stage00_input": int(n_input),
        "stage01_length_filter": int(n_len),
        "stage02_pii_redact": int(n_len),
        "stage03_repetition_filter": int(n_rep),
        "stage04_exact_dedup": int(n_exact),
    }


def check_curate(counts: dict[str, int], expected: dict[str, int], reference: dict[str, int] | None) -> tuple[bool, dict]:
    """Recomputed stages must match exactly; the rest (near dedup, perplexity)
    must repeat exactly across runs of one seed (``reference``)."""
    recomputed_ok = all(counts.get(k) == v for k, v in expected.items())
    repeat_ok = reference is None or counts == reference
    return recomputed_ok and repeat_ok, {"counts": counts, "expected": expected, "reference": reference}


def load_reference(path: str) -> dict | None:
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)
