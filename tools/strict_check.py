"""Fresh-process strict correctness check: catalog query vs DuckDB oracle.

Two layers, both must pass:
  1. EXACT value compare (floats compared bitwise, NaN==NaN, ints==ints);
  2. pandas DTYPE compare after the driver's column-name sort — this is the
     layer that catches engine type leaks the value compare can't, e.g.
     DuckDB sum(BIGINT) -> HUGEINT materializing as float64/object while
     Spark emits int64 (the one red row of CORRECTNESS_r02).

Usage: python tools/strict_check.py [query_name ...]   (default: all oracled)
Exit code = number of failing queries.

The sf1 sweep is the no-argument form at bench_data/sf1 (~30-40 min; it
writes STRICT_sf1.json):
    STRICT_SF_DIR=bench_data/sf1 SPARK_DRIVER_MEM=48g python tools/strict_check.py
"""
import sys, os, math

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
from real_time_weather_data_pipeline_for_philippine_cities_spark.session import get_spark  # noqa: E402
from real_time_weather_data_pipeline_for_philippine_cities_spark.plans.catalog import CATALOG  # noqa: E402
from real_time_weather_data_pipeline_for_philippine_cities_spark.sources.registry import TABLES  # noqa: E402

SF = os.environ.get("STRICT_SF_DIR", "/root/testdata/sf0.01")


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if v is None:
            return (0, "")
        if isinstance(v, float):
            if math.isnan(v):
                return (1, "NaN")
            return (2, v)  # exact float compare
        if isinstance(v, bool):
            return (4, v)
        if isinstance(v, int):
            return (5, v)  # ints stay ints: a HUGEINT->float leak must fail
        return (3, str(v))

    return sorted(tuple(cell(r[i]) for i in idx) for r in rows)


def _is_arrow_ns_overflow(e: Exception) -> bool:
    """True iff the exception is the Arrow/pandas ns-domain overflow a
    pre-1677 / post-2262 timestamp raises on materialization — pyarrow's
    "Casting ... would result in out of bounds timestamp" (surfacing from
    Spark's toPandas, possibly wrapped) or pandas' OutOfBoundsDatetime
    from DuckDB's .df(). Everything else is a genuine failure."""
    seen = set()
    cur: BaseException | None = e
    while cur is not None and id(cur) not in seen:
        seen.add(id(cur))
        if "outofbounds" in type(cur).__name__.lower():
            return True
        # Specific marker only: Spark's INVALID_ARRAY_INDEX also says
        # "index ... is out of bounds", and that is a plan bug that must
        # NOT route onto the schema-kind fallback (round-8 advice).
        if "out of bounds timestamp" in str(cur).lower():
            return True
        cur = cur.__cause__ or cur.__context__
    return False


def _spark_schema_kinds(sdf):
    """(cols, {col: (pandas-dtype-kind, is_temporal)}) derived from the
    Spark SCHEMA — the fallback dtype layer for results whose temporal
    values overflow Arrow's ns timestamps (pre-1677 / post-2262), where
    toPandas cannot run at all. Kind mapping mirrors what toPandas
    produces on in-bounds data."""
    from pyspark.sql import types as T

    kinds = {}
    for f in sdf.schema.fields:
        d = f.dataType
        if isinstance(d, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            k = ("i", False)
        elif isinstance(d, (T.FloatType, T.DoubleType)):
            k = ("f", False)
        elif isinstance(d, T.BooleanType):
            k = ("b", False)
        elif isinstance(d, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            k = ("M", True)
        else:
            k = ("O", False)
        kinds[f.name] = k
    return [f.name for f in sdf.schema.fields], kinds


def _duck_rel_kinds(rel):
    """Same mapping for a DuckDB relation's real types (the DBAPI cursor
    description collapses every numeric to 'NUMBER', which cannot see an
    int-vs-float leak). HUGEINT/DECIMAL map to 'f' because that is what
    .df() materializes them as — the exact engine-type leak the dtype
    layer exists to catch."""
    kinds = {}
    for name, dtype in zip(rel.columns, rel.types):
        tn = str(dtype).upper()
        if "HUGEINT" in tn or "DECIMAL" in tn:
            k = ("f", False)
        elif "INT" in tn:
            k = ("i", False)
        elif tn in ("FLOAT", "DOUBLE", "REAL"):
            k = ("f", False)
        elif tn == "BOOLEAN":
            k = ("b", False)
        elif tn.startswith("TIMESTAMP") or tn == "DATE":
            k = ("M", True)
        else:
            k = ("O", False)
        kinds[name] = k
    return list(rel.columns), kinds


def check_one(name: str, spark, con, sf: str) -> dict:
    """Strict-compare ONE catalog query against its DuckDB oracle on the
    already-registered views: values bitwise (NaN==NaN, ints stay ints),
    pandas dtype KINDS after the driver's column-name sort. Returns the
    report entry ({ok, rows, detail}); shared by the CLI below and the
    sf10 sweep (tools/sf10_sweep.py)."""
    q = CATALOG[name]
    sdf = q.fn(spark, sf)
    # Temporal values outside Arrow's ns domain (temporal-extremes sweep)
    # are the ONLY failure the pandas dtype layer may absorb — any other
    # exception (Spark execution error, oracle SQL error, OOM) is a real
    # failure and must propagate, not be silently retried via the
    # fallback path (round-8 advice: the bare except here masked them).
    spdf = ddf = None
    try:
        spdf = sdf.toPandas()
    except Exception as e:
        if not _is_arrow_ns_overflow(e):
            raise
    if spdf is not None:
        try:
            ddf = con.execute(q.oracle).df()
        except Exception as e:
            if not _is_arrow_ns_overflow(e):
                raise
    pandas_layer = spdf is not None and ddf is not None
    fb_rows = None
    if pandas_layer:
        scols, dcols = sorted(spdf.columns), sorted(ddf.columns)
        nsp, ndu = len(spdf), len(ddf)
    else:
        # Fall back to schema-derived dtype kinds; the value layer below
        # (collect + these fetched rows, µs-domain datetimes) still runs.
        sp_cols, sp_kinds = _spark_schema_kinds(sdf)
        rel = con.sql(q.oracle)
        du_cols, du_kinds = _duck_rel_kinds(rel)
        nsp = sdf.count()
        fb_rows = rel.fetchall()
        ndu = len(fb_rows)
        scols, dcols = sorted(sp_cols), sorted(du_cols)
    ok_cols = scols == dcols
    ok_rows = nsp == ndu
    ok_dtypes, dtype_diff = True, []
    if ok_cols and pandas_layer:
        import datetime as _dt

        def _datey(s):  # pandas DATE representations the driver tolerates
            if str(s.dtype).startswith("datetime"):
                return True
            if str(s.dtype) == "object" and len(s):
                v = s.dropna()
                return len(v) > 0 and isinstance(v.iloc[0], (_dt.date, _dt.datetime))
            return False

        sp_kinds = du_kinds = None
        for c in scols:
            # Compare dtype KIND, not width: int32-vs-int64 passed the
            # driver hash in r02 (tfidf rank), while a kind change like
            # int64-vs-float64 failed it (mixture_report's HUGEINT).
            a, b = spdf[c].dtype.kind, ddf[c].dtype.kind
            # DATE columns: Spark->object(date) vs DuckDB->datetime64 is a
            # pandas artifact the driver hash tolerates (daily_minmax was
            # green in r02 with exactly this shape).
            if a != b and not (_datey(spdf[c]) and _datey(ddf[c])):
                # A VALUELESS column (0 rows, or every value NULL) has no
                # real pandas dtype — Spark materializes object/float64
                # arbitrarily. Adjudicate from the SCHEMAS instead (the
                # degenerate-parity sweeps would otherwise flag phantom
                # diffs on empty/all-null fixtures).
                if spdf[c].isna().all() or ddf[c].isna().all():
                    if sp_kinds is None:
                        _, sp_kinds = _spark_schema_kinds(sdf)
                        _, du_kinds = _duck_rel_kinds(con.sql(q.oracle))
                    (ka, ta), (kb, tb) = sp_kinds[c], du_kinds[c]
                    if ka == kb or (ta and tb):
                        continue
                ok_dtypes = False
                dtype_diff.append((c, str(spdf[c].dtype), str(ddf[c].dtype)))
    elif ok_cols:
        for c in scols:
            (a, a_t), (b, b_t) = sp_kinds[c], du_kinds[c]
            if a != b and not (a_t and b_t):
                ok_dtypes = False
                dtype_diff.append((c, f"schema:{a}", f"schema:{b}"))
    srows = [tuple(r) for r in sdf.collect()]
    # ONE execution for the raw-value layer: description is available on
    # the cursor before fetch, so the oracle runs twice total (df() above
    # for dtypes + this) — not three times (matters at sf10, where the
    # heavy twins run 1-3 minutes each). On the ns-overflow fallback path
    # the rows already fetched for the count are reused — the oracle
    # still runs exactly once there (round-8 advice).
    if fb_rows is not None:
        dcols_desc = du_cols
        drows = fb_rows
    else:
        cur = con.execute(q.oracle)
        dcols_desc = [d[0] for d in cur.description]
        drows = cur.fetchall()
    ns, nd = norm_rows(list(sdf.columns), srows), norm_rows(dcols_desc, drows)
    mism = [(a, b) for a, b in zip(ns, nd) if a != b] if ok_rows else []
    ok = ok_cols and ok_rows and ok_dtypes and not mism
    detail = ""
    if not ok_cols:
        detail = f" cols spark={scols} duck={dcols}"
    elif not ok_rows:
        detail = f" rows {nsp}/{ndu}"
    elif dtype_diff:
        detail = f" dtypes {dtype_diff}"
    elif mism:
        detail = f" values {mism[:2]}"
    return {"ok": ok, "rows": nsp, "detail": detail.strip() or None}


def main() -> int:
    names = sys.argv[1:] or sorted(
        n for n, q in CATALOG.items() if q.oracle is not None
    )
    spark = get_spark()
    con = duckdb.connect()
    # Allow large oracles to spill instead of OOM (an in-memory duckdb
    # connection has no temp_directory); harmless at sf0.01/sf1, required
    # for the byte-explode twins at sf10.
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    fail = 0
    report: dict[str, dict] = {}
    for name in names:
        entry = check_one(name, spark, con, SF)
        status = "OK" if entry["ok"] else "FAIL"
        detail = f" {entry['detail']}" if entry["detail"] else ""
        print(f"{name}: {status}{detail} ({entry['rows']} rows)")
        report[name] = entry
        if not entry["ok"]:
            fail += 1
        # release per-query persisted stages (LSH signatures, edge lists):
        # 126 queries x cached intermediates would otherwise accumulate
        # executor storage for the whole run.
        spark.catalog.clearCache()
    # Machine-readable record of the full strict run (values bitwise,
    # dtype kinds) — written only for full-catalog runs so a partial
    # invocation can't masquerade as complete coverage.
    if not sys.argv[1:]:
        import json

        # STRICT.json is the committed sf0.01 proof artifact; a run against
        # any other dataset must not silently replace it — divert to a
        # dataset-tagged filename instead.
        default_sf = "/root/testdata/sf0.01"
        if os.path.abspath(SF) == default_sf:
            fname = "STRICT.json"
        else:
            tag = os.path.basename(os.path.normpath(SF)) or "alt"
            fname = f"STRICT_{tag}.json"
            print(
                f"STRICT_SF_DIR={SF} differs from the canonical {default_sf}; "
                f"writing {fname} instead of STRICT.json"
            )
        out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), fname)
        with open(out, "w") as f:
            json.dump(
                {"sf_dir": SF, "n": len(report), "fail": fail, "queries": report},
                f,
                indent=0,
            )
        print(f"wrote {out}: {len(report)} queries, {fail} failing")
    return fail


if __name__ == "__main__":
    sys.exit(main())
