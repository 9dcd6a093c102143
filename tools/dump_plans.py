"""Capture per-query `.explain("formatted")` plans at sf0.1 with the
stable plan fingerprint the bench reports. Same session sizing and
warm protocol as bench.py, so the plans are the bench's plans.

Usage:
  python tools/dump_plans.py <subdir> [before|after] [q1,q2,...]
      writes plans/<subdir>/<query>_<tag>.txt for every headline query
      (or the comma-separated names given); each file's header records
      the session's master.
  python tools/dump_plans.py --plans-md
      regenerates PLANS.md: every headline plan under its fingerprint."""

from __future__ import annotations

import contextlib
import io
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).parent.parent))

ROOT = Path(__file__).parent.parent

PLANS_MD_HEADER = """\
# PLANS — headline physical plans (sf0.1, local[32])

Generated by `tools/dump_plans.py --plans-md` via
`spark._jdf.queryExecution().explainString("formatted")`
for every bench headline query, with the stable plan fingerprint the
bench JSON reports (same normalization, computed warm like the bench).
Plans change only when a fingerprint changes.

What to look for (asserted mechanically in tests/test_plans.py):
`PushedFilters`/`ReadSchema` on every Scan, `BroadcastHashJoin` for
dim sides, `Bucketed: true` fact scans for the orderkey join,
partial_ aggregates before exchanges, `TakeOrderedAndProject` for
top-k, WholeStageCodegen spans over the row work.
"""


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    plans_md = sys.argv[1] == "--plans-md"
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    sf_dir = "/root/testdata/sf0.1"
    # publish the dir EXACTLY like bench.py does, so session sizing
    # (input-scaled shuffle partitions, the input-sized AQE gate) sees
    # the same input and the fingerprints here equal the bench's (an
    # unsized session once kept AQE on and diverged every fingerprint)
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
    out_dir = ROOT / "plans" / sys.argv[1]
    sections = [PLANS_MD_HEADER]
    for name in names or HEADLINE:
        df = QUERIES[name](spark, sf_dir)
        materialize(df)  # warm: AQE-final shapes, like the bench
        df = QUERIES[name](spark, sf_dir)
        fp = plan_fingerprint(df)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        # strip volatile absolute paths for readability
        plan = buf.getvalue().rstrip().replace(str(Path.cwd()), ".")
        if plans_md:
            sections.append(f"## {name}  `fp:{fp}`\n\n```\n{plan}\n```\n")
        else:
            out_dir.mkdir(parents=True, exist_ok=True)
            (out_dir / f"{name}_{tag}.txt").write_text(
                f"# {name} ({tag}) fp:{fp} sf0.1 {master}\n\n{plan}\n"
            )
        print(f"{name} fp:{fp}")
    if plans_md:
        (ROOT / "PLANS.md").write_text("\n".join(sections))
    spark.stop()


if __name__ == "__main__":
    main()
