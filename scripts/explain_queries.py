"""Dump `.explain("formatted")` for named queries into plans/r11/.

Usage: python scripts/explain_queries.py <suffix> q1 q2 ...  [--sf DIR]

Writes plans/r11/<query>_<suffix>.txt for each query. Mostly plan-only:
builds the DataFrame and renders the formatted plan without executing
the query itself — but queries whose CONSTRUCTION resolves a cached
corpus scalar (row counts via data.table_n, from which adaptive index
depths and fan-out widths derive; tfidf's pair-parallelism bound) run
one small count() job the first time that (session, dataset) scalar is
touched (ADVICE r11).
Still cheap enough to run while other work occupies the box.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from streams_prototyping_spark import registry
from streams_prototyping_spark.session import get_spark


def main() -> None:
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if "--sf" in argv:
        i = argv.index("--sf")
        sf_dir = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    suffix, names = argv[0], argv[1:]
    out_dir = Path(__file__).resolve().parent.parent / "plans" / "r11"
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark("explain-queries")
    spark.sparkContext.setLogLevel("ERROR")
    registry.load_all()
    for name in names:
        df = registry.QUERIES[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )
        (out_dir / f"{name}_{suffix}.txt").write_text(txt)
        print(f"{name}: {len(txt)} chars")


if __name__ == "__main__":
    main()
