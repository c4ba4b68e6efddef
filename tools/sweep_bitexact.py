#!/usr/bin/env python
"""Full-registry bit-exactness sweep vs DuckDB at an arbitrary SF.

The driver gates correctness at sf0.01 with rounded-value hashes; this
sweep holds the engine to the STRONGER property SCALE.md claims: every
oracle pair produces IDENTICAL values (bit-exact doubles, exact
integers/strings, NaN==NaN) at sf0.1 too — the scale where
accumulation-order ulp noise, decimal-literal promotion skew, and
rounding-tie divergence actually show up (three real bugs found this
way; see SCALE.md "Cross-engine determinism").

Usage:  python tools/sweep_bitexact.py [sf_dir] [name_filter]
        (defaults: /root/testdata/sf0.1, all queries; a filter with a
        comma, e.g. ``q1,q2``, is an exact list of names, otherwise a
        substring)

Prints one line per query and a final JSON summary; exit 1 on any
mismatch.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def compare(a, b) -> str | None:
    """None if frames are value-identical (sorted rows/cols); else a
    short reason."""
    import numpy as np

    if sorted(a.columns) != sorted(b.columns):
        return f"schema {sorted(a.columns)} != {sorted(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    cols = sorted(a.columns)
    a = a[cols].sort_values(cols).reset_index(drop=True)
    b = b[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        av, bv = a[c], b[c]
        if av.dtype == object or bv.dtype == object:
            if not av.fillna("\x00").eq(bv.fillna("\x00")).all():
                return f"values differ in {c}"
        else:
            x, y = av.values.astype(float), bv.values.astype(float)
            # Signed zero matters: the driver hashes the BYTES, for
            # which -0.0 != +0.0, while `==` says they are equal. The
            # signbit term makes the sweep as strict as the driver
            # (for x == y non-zero the signbits already agree, so the
            # extra term only bites on zeros). Round-7 escape:
            # theilsen_trend_recent was sweep-green / driver-red on
            # exactly this class.
            eq = ((x == y) & (np.signbit(x) == np.signbit(y))) | (
                np.isnan(x) & np.isnan(y)
            )
            if not bool(eq.all()):
                i = int(np.argmax(~eq))
                return f"values differ in {c} (e.g. {x[i]!r} vs {y[i]!r})"
    return None


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    pat = sys.argv[2] if len(sys.argv) > 2 else ""

    import __spark_entry__ as entry
    from iot_etl_spark.session import get_spark
    from tests.oracle import duck_connection, negzero_columns

    spark = get_spark(
        app_name="bitexact-sweep",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '16')}]",
        shuffle_partitions=16,
        extra_conf={"spark.driver.memory": "1g"},  # Spark's default heap
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection(sf_dir)
    qs, osql = entry.queries(), entry.oracle_sql()
    if "," in pat:  # comma list = exact-name set
        want = {x for x in pat.split(",") if x}
        names = [n for n in qs if n in want]
    else:
        names = [n for n in qs if pat in n]
    fails: dict[str, str] = {}
    negzero: dict[str, str] = {}
    t_all = time.time()
    for i, name in enumerate(names):
        try:
            t0 = time.time()
            a = qs[name](spark, sf_dir).toPandas()
            b = con.execute(osql[name]).df()
            reason = compare(a, b)
            nz = sorted(set(negzero_columns(a)) | set(negzero_columns(b)))
            if nz:
                negzero[name] = ",".join(nz)
        except Exception as exc:  # noqa: BLE001 - sweep must report, not die
            reason = f"{type(exc).__name__}: {str(exc)[:160]}"
        status = "ok" if reason is None else f"FAIL {reason}"
        if name in negzero:
            status += f" [WARN -0.0 in {negzero[name]}]"
        print(f"[{i + 1}/{len(names)}] {name}: {status} ({time.time() - t0:.2f}s)",
              flush=True)
        if reason is not None:
            fails[name] = reason
    print(json.dumps({
        "sf_dir": sf_dir, "n_queries": len(names), "n_fail": len(fails),
        "fails": fails, "negzero_warns": negzero,
        "wall_s": round(time.time() - t_all, 1),
    }))
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
