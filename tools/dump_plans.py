"""Dump .explain('formatted') for named queries to plans/<tag>/<q>_<suffix>.txt.

Usage: python tools/dump_plans.py <sf_dir> <tag> <suffix> q1 q2 ...
Writes plans/<tag>/<q>_<suffix>.txt for each query.
"""

import os
import sys


def main() -> None:
    sf_dir, tag, suffix, *names = sys.argv[1:]
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry
    from views_transformation_library_spark.session import get_spark

    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange, "
              f"{plan.count('BatchEvalPython') + plan.count('ArrowEvalPython')} py-eval nodes)")
    spark.stop()


if __name__ == "__main__":
    main()
