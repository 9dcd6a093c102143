"""Capture per-query `.explain("formatted")` plans: writes
plans/<subdir>/<query>_<tag>.txt for every headline query (or the
comma-separated names given). Same session sizing as bench.py so the
plans are the bench's plans; each file's header records the session's
master.

Usage: python tools/dump_plans.py <subdir> [before|after] [q1,q2,...]"""

from __future__ import annotations

import contextlib
import io
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).parent.parent))


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    subdir = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    sf_dir = "/root/testdata/sf0.1"
    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir

    from bench import HEADLINE, materialize, plan_fingerprint
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators import (
        QUERIES,
    )
    from sample_iceberg_schema_evolution_pyiceberg_spark.session import (
        get_spark,
    )

    spark = get_spark(
        app_name="dump_plans",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    master = spark.sparkContext.master
    out_dir = Path(__file__).parent.parent / "plans" / subdir
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in names or HEADLINE:
        df = QUERIES[name](spark, sf_dir)
        materialize(df)  # warm: AQE-final shapes, like the bench
        df = QUERIES[name](spark, sf_dir)
        fp = plan_fingerprint(df)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue().rstrip().replace(str(Path.cwd()), ".")
        (out_dir / f"{name}_{tag}.txt").write_text(
            f"# {name} ({tag}) fp:{fp} sf0.1 {master}\n\n{plan}\n"
        )
        print(f"{name} fp:{fp}")
    spark.stop()


if __name__ == "__main__":
    main()
