"""Census of declared queries whose plan ROOT is a global Sort (r13
VERDICT #8): a top-level Sort with nothing above it is presentation
order only — the driver's canonicalizer sorts collected row tuples
itself before comparing/hashing (scripts/check_oracle.py is the
replica), so the closing sort buys determinism nobody consumes and
costs a range-exchange (sampling pass + shuffle) per query.

Prints one line per query whose analyzed plan's root is Sort[global],
with its sort keys. The registry's ``query`` decorator elides that root
sort from every registered query, so the census of ``queries()`` must
list zero root sorts; the unwrapped module functions keep theirs.

Usage: python scripts/sort_census.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from market_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.001"
    names = [a for a in args if not os.path.isdir(a)]

    from __spark_entry__ import queries

    qs = queries()
    if names:
        unknown = sorted(set(names) - set(qs))
        if unknown:
            sys.exit(f"unknown queries: {unknown}")
        qs = {n: qs[n] for n in names}

    spark = get_spark("sort-census")
    spark.sparkContext.setLogLevel("ERROR")

    rooted = []
    errors = []
    for name, fn in sorted(qs.items()):
        try:
            df = fn(spark, sf_dir)
            # jdf.queryExecution().analyzed() root node
            node = df._jdf.queryExecution().analyzed()
            cls = node.getClass().getSimpleName()
            is_sort = cls == "Sort" and getattr(node, "global")()
            if is_sort:
                keys = node.order().mkString(", ")
                rooted.append(name)
                print(f"SORT-ROOT {name}: [{keys}]")
        except Exception as e:  # noqa: BLE001
            errors.append(name)
            print(f"ERROR {name}: {type(e).__name__}: {e}")
    print(f"\n{len(rooted)} of {len(qs)} queries end in a global Sort")
    if errors:
        print(f"{len(errors)} errors: {errors}")


if __name__ == "__main__":
    main()
