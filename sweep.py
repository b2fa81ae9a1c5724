#!/usr/bin/env python
"""Plain-session oracle sweep: run EVERY __spark_entry__.queries() entry
and its oracle_sql() twin side-by-side and compare exactly — value AND
column-order equality AND engine-type fidelity — the same protocol the
driver and judge use.

Three comparison lanes per entry:

1. **Value lane** — sorted-row-set equality on Python values, exact:
   the rules live in ``oracle_rows.py``, which the test suite's oracle
   parity test shares.
2. **Type lane** — the oracle side is fetched through Arrow
   (``rel.arrow()``), which is how the driver materializes DuckDB
   results.  DuckDB surfaces HUGEINT columns as float64 through this
   path, so a bare ``sum(<int>)`` oracle that *values*-matches a Spark
   bigint still hash-mismatches in the driver.  The type lane compares
   the Spark schema against the Arrow schema per column with int-width
   tolerance but float-vs-int (and any other cross-family) intolerance,
   so that class of defect fails HERE before the driver samples it.
3. **Gradeability lane** — the driver canonicalizes results with
   ``pandas.sort_values`` over ALL output columns, which factorizes every
   sort key and CRASHES on list/struct cells (round-8: two value-exact
   entries were driver-red for exactly this).  This lane replays that
   canonicalization on a 5-row head of both sides, so a result shape the
   driver cannot grade fails HERE regardless of value correctness.

Run it from a NEUTRAL cwd (not the repo root): with the driver cwd
inside the repo, executor Python workers can import the package and a
Pandas-UDF closure that references a module-level function works by
accident; from /tmp it fails loudly if a kernel isn't pickled by value.

    cd /tmp && python /root/repo/sweep.py [sf_dir] [name ...]

Defaults to /root/testdata/sf0.01 (the driver's grading scale) and all
entries. The last line is one JSON object: ``entries``, ``bad``,
``seconds`` and ``bad_names``. Exit code 0 iff every entry is exact in
every lane; a name that is not a query counts as bad. Every query
carries its oracle (``@oracle``), so ``oracle_sql()`` itself fails on a
builder without one.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


# ---------------------------------------------------------------- type lane

def _spark_family(dt) -> str:
    """Collapse a Spark DataType into the family the driver's hasher
    distinguishes: int widths merge, everything else stays apart."""
    s = dt.simpleString()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if s in ("float", "double"):
        return "float"
    if s.startswith("decimal"):
        # WIDTH-STRICT (round-9 leak): the driver's hasher distinguishes
        # decimal(30,6) from decimal(38,6) even when values are equal —
        # keyed_running_sum was value-exact yet driver-red for exactly
        # this. Keep the full (precision,scale) so a width divergence
        # fails the sweep before the driver samples it.
        return s  # e.g. "decimal(30,6)"
    if s == "boolean":
        return "bool"
    if s in ("string", "varchar"):
        return "str"
    if s == "binary":
        return "bin"
    if s.startswith("timestamp"):
        return "ts"
    if s == "date":
        return "date"
    if s.startswith("array"):
        return "list"
    if s.startswith("struct"):
        return "struct"
    if s.startswith("map"):
        return "map"
    return s


def _arrow_family(t) -> str:
    import pyarrow as pa

    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bin"
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return "list"
    if pa.types.is_struct(t):
        return "struct"
    if pa.types.is_map(t):
        return "map"
    return str(t)


def _canon_lane(sdf, atable):
    """GRADEABILITY lane: replay the driver's exact canonicalization —
    ``pandas.sort_values`` over ALL output columns — on a 5-row head of
    both sides.  pandas factorizes every sort key, so a list/struct cell
    raises ``TypeError: unhashable type`` in the driver even when the
    values are exact (round-8: ``bpe_tokenize_tokens``/``_ids`` were
    value-exact here yet red in CORRECTNESS_r08).  Returns a list of
    'side: exception' strings; non-empty means driver-UNGRADEABLE."""
    import pandas as pd

    errs = []
    try:
        spd = pd.DataFrame([r.asDict() for r in sdf.limit(5).collect()])
        if len(spd):
            spd.sort_values(by=list(spd.columns))
    except Exception as ex:  # noqa: BLE001 — any crash = ungradeable
        errs.append(f"spark-canon: {ex!r}")
    try:
        opd = atable.slice(0, 5).to_pandas()
        if len(opd):
            opd.sort_values(by=list(opd.columns))
    except Exception as ex:  # noqa: BLE001
        errs.append(f"oracle-canon: {ex!r}")
    return errs


def _type_lane(sdf, atable, ocols):
    """Compare Spark column families vs the oracle's Arrow families.
    Returns a list of 'col: spark_fam vs arrow_fam' divergence strings."""
    sfam = {f.name.lower(): _spark_family(f.dataType) for f in sdf.schema.fields}
    afam = {n.lower(): _arrow_family(atable.schema.field(n).type)
            for n in atable.schema.names}
    out = []
    for c in ocols:
        sf_, af_ = sfam.get(c), afam.get(c)
        if sf_ is None or af_ is None:
            out.append(f"{c}: missing ({sf_} vs {af_})")
        elif sf_ != af_:
            out.append(f"{c}: spark={sf_} vs oracle-arrow={af_}")
    return out


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    args = sys.argv[1:]
    sf = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    names = args[1:] if args and os.path.isdir(args[0]) else args

    # a PLAIN session on purpose: the driver does not apply the engine's
    # session-factory configs, so neither does the sweep
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    import oracle_rows

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )

    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    todo = names or list(qs)
    t0 = time.time()
    bad = []
    for name in todo:
        if name not in qs:
            bad.append(name)
            print(f"{name} UNKNOWN QUERY", flush=True)
            continue
        try:
            sdf = qs[name](spark, sf)
            odf = con.sql(os_[name])
            ocols = [c.lower() for c in odf.columns]
            col_ok = [c.lower() for c in sdf.columns] == ocols
            atable = odf.arrow()  # the driver's materialization path
            type_div = _type_lane(sdf, atable, ocols)
            canon_div = _canon_lane(sdf, atable)
            srows = oracle_rows.spark_rows(sdf, ocols)
            orows = oracle_rows.arrow_rows(atable)
            ok = col_ok and srows == orows and not type_div and not canon_div
        except Exception as ex:  # noqa: BLE001 — report and keep sweeping
            bad.append(name)
            print(f"{name} ERROR {ex!r}"[:250], flush=True)
            continue
        if not ok:
            bad.append(name)
            print(
                f"{name} MISMATCH col_ok={col_ok} "
                f"rows {len(srows)} vs {len(orows)} types={type_div} "
                f"canon={canon_div}",
                flush=True,
            )
    summary = {
        "entries": len(todo),
        "bad": len(bad),
        "seconds": round(time.time() - t0),
        "bad_names": bad,
    }
    print(json.dumps(summary), flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
