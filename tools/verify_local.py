"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at a given SF dir, runs
the matching ``oracle_sql()`` in DuckDB with the ten tables registered
as views, and compares: row count, sorted column names, and an
order-insensitive value hash.

IMPORTANT — this replica must canonicalise EXACTLY like the driver,
or it green-lights queries the driver fails (round-2 postmortem: all
six driver-red rows passed the old str()-based local gate).  The
driver's observed pipeline, reconstructed from CORRECTNESS_r02.json
tracebacks and the judge's root-cause analysis:

1. Both sides become *pandas* frames — Spark via ``toPandas()``,
   DuckDB via ``.df()``.  This is where DuckDB ``SUM(int)`` (HUGEINT)
   becomes float64 → ``"3.0"`` while Spark's int64 stays ``"3"``.
2. ``_canon``: select columns sorted by name, then
   ``df.sort_values(by=<all columns>)`` — which raises
   ``TypeError: unhashable type: 'list'`` on array-typed cells,
   exactly as the driver did on inverted_index / dedup_cc_clusters.
3. The value hash stringifies cells with plain ``str()`` semantics
   (no float re-formatting): float64 3.0 and int 3 DIFFER.

Usage::

    python tools/verify_local.py [sf_dir] [pattern ...]

Each pattern is a query name or a shell-style pattern (``fnmatch``),
e.g. ``'*stream*' pipeline_ingest_delta``; none checks every query.
Exit code 0 iff every checked query matches and every pattern matched
at least one query.
"""

from __future__ import annotations

import fnmatch
import hashlib
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-faithful canonical form: columns sorted by name, rows
    sorted by every column (raises TypeError on unhashable cells —
    that parity is deliberate; see module docstring)."""
    cols = sorted(df.columns)
    out = df[cols]
    if cols:
        out = out.sort_values(by=cols, kind="mergesort")
    return out.reset_index(drop=True)


def _cell(v) -> str:
    # Plain str() semantics like the driver: np.float64(3.0) -> "3.0",
    # np.int64(3) -> "3", pd.NaT/None/nan each keep their repr.
    if v is None:
        return "NULL"
    if isinstance(v, float) and v != v:  # NaN
        return "NaN"
    if isinstance(v, pd.Timestamp):
        return v.tz_localize(None).isoformat() if v.tzinfo else v.isoformat()
    return str(v)


def frame_hash(df: pd.DataFrame) -> str:
    canon = _canon(df)
    h = hashlib.sha256()
    for row in canon.itertuples(index=False, name=None):
        h.update("|".join(_cell(v) for v in row).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def make_oracle_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare_query(spark, con, fn, sql: str, sf_dir: str) -> list[str]:
    """Run one Spark query + its DuckDB oracle; return a list of problems
    (empty = match).  ``con`` must already have the table views."""
    spdf = fn(spark, sf_dir).toPandas()
    odf = con.execute(sql).df()
    problems = []
    if len(spdf) != len(odf):
        problems.append(f"rows {len(spdf)} vs {len(odf)}")
    if sorted(spdf.columns) != sorted(odf.columns):
        problems.append(f"cols {sorted(spdf.columns)} vs {sorted(odf.columns)}")
        return problems
    try:
        if frame_hash(spdf) != frame_hash(odf):
            problems.append("value hash mismatch")
    except TypeError as e:
        problems.append(f"canonicalizer crash (driver-red): {e}")
    return problems


def _debug_diff(spdf: pd.DataFrame, odf: pd.DataFrame) -> None:
    try:
        s_lines = {
            "|".join(_cell(v) for v in row)
            for row in _canon(spdf).itertuples(index=False, name=None)
        }
        o_lines = {
            "|".join(_cell(v) for v in row)
            for row in _canon(odf).itertuples(index=False, name=None)
        }
    except TypeError:
        return
    for d in list(s_lines - o_lines)[:3]:
        print(f"        spark-only: {d}")
    for d in list(o_lines - s_lines)[:3]:
        print(f"        duck-only : {d}")


def _ulp_close(spdf: pd.DataFrame, odf: pd.DataFrame) -> bool:
    """Opt-in (--float-ulp) fallback for hash mismatches at LARGE SF:
    identical decimal sums above 2**53 (scaled) convert to ADJACENT
    doubles on the two engines (DuckDB routes decimal→double through
    int128→double→÷10^scale — two roundings; Spark's BigDecimal cast
    rounds once), so str()-equality breaks by 1 ULP even though both
    engines computed the identical exact decimal.  This comparator
    re-checks float columns with rtol 1e-12 (~4500 ULPs — a double
    ULP is ~2.2e-16 relative; the loose bound absorbs the double
    rounding plus downstream divisions of the twice-rounded sums)
    and everything else exactly.  NOT driver semantics — sf1
    evidence only."""
    import numpy as np

    a, b = _canon(spdf), _canon(odf)
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" and bv.dtype.kind == "f":
            if not np.allclose(
                av.to_numpy(), bv.to_numpy(),
                rtol=1e-12, atol=0.0, equal_nan=True,
            ):
                return False
        elif [_cell(v) for v in av] != [_cell(v) for v in bv]:
            return False
    return True


def main() -> int:
    args = [
        a for a in sys.argv[1:] if a not in ("--vanilla", "--float-ulp")
    ]
    vanilla = "--vanilla" in sys.argv[1:]
    float_ulp = "--float-ulp" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    patterns = args[1:]

    import __spark_entry__ as entrymod

    if vanilla:
        # Reproduce the DRIVER's environment: a bare SparkSession whose
        # JVM launched without our PYTHONPATH export, none of
        # get_spark's confs — catches session-config dependencies the
        # tuned session hides (timezone, nanos, worker sys.path, the
        # TWS state-worker env).  Pair with a cwd OUTSIDE the repo for
        # the full effect (see .claude/skills/verify/SKILL.md).
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.ui.enabled", "false")
            .appName("verify-local-vanilla")
            .getOrCreate()
        )
    else:
        from another_map_reduce_spark.session import get_spark

        spark = get_spark(app_name="verify-local")
    con = make_oracle_con(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    matched = {p: fnmatch.filter(qs, p) for p in patterns}
    selected = {name for names in matched.values() for name in names}
    failures = [p for p, names in matched.items() if not names]
    for p in failures:
        print(f"FAIL  {p}: matches no query")
    for name, fn in qs.items():
        if patterns and name not in selected:
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok?   {name}: rows-only check, {len(spdf)} rows ({dt:.1f}s)")
            if len(spdf) == 0:
                failures.append(name)
                print(f"FAIL  {name}: 0 rows on rows-only check")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        problems = []
        if len(spdf) != len(odf):
            problems.append(f"rows {len(spdf)} vs {len(odf)}")
        if sorted(spdf.columns) != sorted(odf.columns):
            problems.append(
                f"cols {sorted(spdf.columns)} vs {sorted(odf.columns)}"
            )
        else:
            try:
                if frame_hash(spdf) != frame_hash(odf):
                    if float_ulp and _ulp_close(spdf, odf):
                        problems.append("__ulp__")
                    else:
                        problems.append("value hash mismatch")
                        _debug_diff(spdf, odf)
            except TypeError as e:
                problems.append(f"canonicalizer crash (driver-red): {e}")
        if problems == ["__ulp__"]:
            print(
                f"PASS~ {name}: {len(spdf)} rows (1-ULP float tolerance; "
                f"{dt:.1f}s)"
            )
        elif problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)} ({dt:.1f}s)")
        else:
            print(f"PASS  {name}: {len(spdf)} rows ({dt:.1f}s)")

    print(f"\n{len(failures)} failure(s)" if failures else "\nall checked queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
