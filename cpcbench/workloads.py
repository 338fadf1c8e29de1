"""The workloads: their ops, set-up, timed op calls and output checks.

Each op goes through a public entry point of the package -- a scheduled
refresh tick (``jobs.scheduled_run``) or a declared query
(``queries.SPARK_QUERIES[name]``) -- and its output is checked after the
op, outside the timed region.
"""

from __future__ import annotations

import ast
import contextlib
import decimal
import hashlib
import json
import math
import shutil
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import rawzone

#: symbols per CPC version in the ``cpc_refresh`` raw zone
CPC_SYMBOLS = 16_000
#: symbols per version in the small raw zone of the set-up warm-up ticks
CPC_WARM_SYMBOLS = 1_000

QUERY_OPS = {
    "corpus_stream": [
        "stream_incremental_dedup",
        # one batch op for each operator module the stream ops do not reach
        "dedup_components",
        "ann_cosine_topk",
        "text_bpe_train",
        "q82_triangle_counts",
    ],
}
WORKLOADS = ["cpc_refresh", *QUERY_OPS]
#: the tables of the set-up warm-up pass, a sibling of the workload's: the
#: process's first-call costs (class loading, code generation, the
#: streaming engine) do not grow with the data, so the smallest tables pay
#: them for a fraction of a pass over the workload's own
WARM_SCALE = "sf0.001"
#: timed ops that read a smaller sibling too: q82's co-order graph costs
#: ~15 s a pass at sf0.1, more than one run's time budget holds
OP_SCALE = {"q82_triangle_counts": "sf0.001"}
#: the tables the oracle SQL reads, as ``tools/drive_contract.py`` names them
ORACLE_TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def contract_rows_key(root: Path):
    """``rows_key`` from ``tools/drive_contract.py``: rows sorted with the
    columns in name order and Decimals/floats tagged.  That script runs a
    whole contract sweep when imported, so only its ``norm`` and
    ``rows_key`` definitions are loaded from its source."""
    tree = ast.parse((root / "tools" / "drive_contract.py").read_text())
    keep = [n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name in ("norm", "rows_key")]
    ns = {"decimal": decimal, "math": math}
    exec(compile(ast.Module(body=keep, type_ignores=[]), "drive_contract.py", "exec"), ns)
    return ns["rows_key"]


def rows_digest(rows_key, cols: list[str], rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows_key(cols, rows)).encode()).hexdigest()


@dataclass
class OpResult:
    op: str
    pass_no: int
    build_s: float
    wall_s: float
    t0_ms: float
    tb_ms: float
    t1_ms: float
    ok: bool = False
    error: str = ""


@dataclass
class QueryWorkload:
    """A list of declared queries, each built and collected once per pass;
    collected rows are compared with DuckDB running the query's oracle SQL
    over the same tables.  The set-up warm-up pass reads the smallest
    tables."""

    name: str
    sf_dir: str
    root: Path
    work: Path
    ops: list[str] = field(default_factory=list)
    expected: dict[str, dict] = field(default_factory=dict)
    warm_passes: int = 1
    write_bytes: int = 0
    input_bytes: int = 0

    def prepare(self, seed: int) -> None:
        """Expected digests from the oracle SQL for every op on the tables
        of the warm-up and of the timed passes, cached per oracle text and
        table files in the work directory."""
        import duckdb

        from etl_cpc_schema_spark import queries as Q

        self.ops = list(QUERY_OPS[self.name])
        sibling = lambda scale: str(Path(self.sf_dir).with_name(scale))  # noqa: E731
        self.op_dirs = {op: sibling(WARM_SCALE) for op in self.ops}
        self.timed_dirs = {op: sibling(OP_SCALE[op]) if op in OP_SCALE else self.sf_dir for op in self.ops}
        self.rows_key = contract_rows_key(self.root)
        oracles = Q.oracle_sql()
        runs = sorted({(op, d) for dirs in (self.op_dirs, self.timed_dirs) for op, d in dirs.items()})
        stamp = [(d, t, Path(f"{d}/{t}.parquet").stat().st_size) for d in sorted({d for _, d in runs}) for t in ORACLE_TABLES]
        key = hashlib.sha256(json.dumps([stamp, [(op, d, oracles[op]) for op, d in runs]]).encode()).hexdigest()[:16]
        cache = self.work / f"oracle-{self.name}-{key}.json"
        if cache.exists():
            self.expected = json.loads(cache.read_text())
            return
        for sf_dir in sorted({d for _, d in runs}):
            con = duckdb.connect()
            for t in ORACLE_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
            for op in (op for op, d in runs if d == sf_dir):
                res = con.execute(oracles[op])
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                digest = rows_digest(self.rows_key, cols, rows)
                self.expected[f"{op}@{sf_dir}"] = {"cols": sorted(cols), "rows": len(rows), "digest": digest}
            con.close()
        cache.write_text(json.dumps(self.expected))

    def run_op(self, spark, op: str, pass_no: int, tag) -> OpResult:
        from etl_cpc_schema_spark import queries as Q

        tag(op, pass_no)
        t0 = time.perf_counter()
        t0_ms = time.time() * 1000.0
        df = Q.SPARK_QUERIES[op](spark, self.op_dirs[op])
        tb = time.perf_counter()
        rows = df.collect()
        t1 = time.perf_counter()
        res = OpResult(op, pass_no, tb - t0, t1 - t0, t0_ms, t0_ms + (tb - t0) * 1000.0, t0_ms + (t1 - t0) * 1000.0)
        exp = self.expected[f"{op}@{self.op_dirs[op]}"]
        cols = df.columns
        got = rows_digest(self.rows_key, cols, [tuple(r) for r in rows])
        res.ok = sorted(cols) == exp["cols"] and got == exp["digest"]
        if not res.ok:
            res.error = (
                f"{len(rows)} rows, cols {sorted(cols)}; oracle {exp['rows']} rows, cols {exp['cols']};"
                f" row digest {'matches' if got == exp['digest'] else 'differs'}"
            )
        return res

    def reset(self) -> None:
        pass

    def begin_timed(self) -> None:
        self.op_dirs = self.timed_dirs


@dataclass
class CpcRefreshWorkload:
    """One monthly ``jobs.scheduled_run`` tick per pass over a generated raw
    zone of two versions; the older one is already in the watermark.

    Set-up runs two ticks over a small raw zone of its own: the second tick
    of a process still runs about 30% slower than later ones, and by a
    varying amount, and the small zone warms the same code for less time."""

    name: str
    sf_dir: str
    root: Path
    work: Path
    ops: list[str] = field(default_factory=lambda: ["scheduled_run"])
    warm_passes: int = 2
    write_bytes: int = 0
    input_bytes: int = 0

    def prepare(self, seed: int) -> None:
        shutil.rmtree(self.work / "raw", ignore_errors=True)
        self.timed_zone = rawzone.generate(self.work / "raw" / "timed", seed, CPC_SYMBOLS)
        self.zone = rawzone.generate(self.work / "raw" / "warm", seed + 1, CPC_WARM_SYMBOLS)
        v = self.timed_zone.new_version
        self.input_bytes = sum((self.timed_zone.data_dir / f"{s}{v}.zip").stat().st_size for s in rawzone.ARCHIVES)
        self.out = self.work / "processed"
        self.watermark = self.work / "watermark"
        self.reset()

    def begin_timed(self) -> None:
        self.zone = self.timed_zone
        self.reset()

    def reset(self) -> None:
        """Empty the output and leave only the older version in the watermark."""
        import duckdb

        shutil.rmtree(self.out, ignore_errors=True)
        shutil.rmtree(self.watermark, ignore_errors=True)
        self.watermark.mkdir(parents=True)
        duckdb.sql(
            f"COPY (SELECT '{self.zone.old_version}' AS version) TO '{self.watermark}/part-0.parquet' (FORMAT parquet)"
        )

    def run_op(self, spark, op: str, pass_no: int, tag) -> OpResult:
        from etl_cpc_schema_spark import jobs

        tag(op, pass_no)
        t0 = time.perf_counter()
        t0_ms = time.time() * 1000.0
        with contextlib.redirect_stdout(sys.stderr):
            done = jobs.scheduled_run(str(self.zone.data_dir), str(self.out), str(self.watermark), spark=spark)
        t1 = time.perf_counter()
        t1_ms = t0_ms + (t1 - t0) * 1000.0
        res = OpResult(op, pass_no, 0.0, t1 - t0, t0_ms, t0_ms, t1_ms)
        self.write_bytes = sum(p.stat().st_size for p in self.out.rglob("*") if p.is_file())
        errors = self.check(done)
        res.ok = not errors
        res.error = "; ".join(errors)
        self.reset()
        return res

    def check(self, done: str | None) -> list[str]:
        """The written Parquet and CSV against the generator's ground truth."""
        import duckdb
        import pandas as pd

        z = self.zone
        errors = []
        if done != z.new_version:
            errors.append(f"tick returned {done!r}, expected {z.new_version}")
        cols = ["symbol", "level", "title", "section", "class", "subclass"]
        exp = pd.DataFrame(z.expected, columns=cols).astype({"level": "Int64"})
        con = duckdb.connect()
        con.register("expected", exp)
        con.execute(f"CREATE VIEW pq AS SELECT * FROM read_parquet('{self.out}/cpc_schema_final.parquet/*.parquet')")
        con.execute(
            f"CREATE VIEW csv AS SELECT * FROM read_csv('{self.out}/cpc_schema_final.csv/*.csv', header=true, all_varchar=true)"
        )
        wm = sorted(r[0] for r in con.execute(f"SELECT version FROM read_parquet('{self.watermark}/*.parquet')").fetchall())
        if wm != sorted([z.old_version, z.new_version]):
            errors.append(f"watermark holds {wm}")
        sel = "symbol, CAST(level AS BIGINT) AS level, title, section, class, subclass"
        for view in ("pq", "csv"):
            n, versions = con.execute(f"SELECT count(*), list(DISTINCT cpc_schema_date) FROM {view}").fetchone()
            if n != len(exp):
                errors.append(f"{view}: {n} rows, expected {len(exp)}")
            if versions != [z.new_version]:
                errors.append(f"{view}: version stamps {versions}")
            diff = con.execute(
                f"SELECT (SELECT count(*) FROM (SELECT {sel} FROM {view} EXCEPT ALL SELECT {sel} FROM expected)),"
                f" (SELECT count(*) FROM (SELECT {sel} FROM expected EXCEPT ALL SELECT {sel} FROM {view}))"
            ).fetchone()
            if diff != (0, 0):
                errors.append(f"{view}: {diff[0]} unexpected rows, {diff[1]} missing rows")
        con.close()
        return errors


def make(name: str, sf_dir: str, root: Path, work: Path):
    cls = CpcRefreshWorkload if name == "cpc_refresh" else QueryWorkload
    return cls(name, sf_dir, root, work)
