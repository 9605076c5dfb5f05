#!/usr/bin/env python
"""Regenerate PLANS.md: the formatted physical plan of every section that
tests/test_plans.py checks.

The checks themselves are tier-1 tests (``pytest tests/test_plans.py``); this
script only prints the plans. A section whose plan differs from the stored
one only in run-specific ids (expression, plan and RDD ids, the warehouse
directory) is kept verbatim, so a change to one plan shows as a change to
one section.

Run: python scripts/explain_audit.py --write
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--write", action="store_true", required=True,
                    help="rewrite PLANS.md (changed sections only)")
    ap.parse_args()

    from corpus_dedup_spark.plans.session import build_session
    from tests.plans import write_plans
    from tests.test_plans import SECTIONS

    spark = build_session(
        master="local[4]", shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir":
                    tempfile.mkdtemp(prefix="plans_audit_wh_")})
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

    out = ["# PLANS — physical plans of the engine's key operators "
           "(.explain formatted)", "",
           "Written by `python scripts/explain_audit.py --write`. Each "
           "section's properties are checked by the tier-1 test it names "
           "(tests/test_plans.py); this file is the record, not the check.", ""]
    for title, build, test in SECTIONS:
        out += [f"## {title}", "",
                f"Checked by `tests/test_plans.py::{test.__name__}`.", "",
                "```", build(spark, sf_dir).strip(), "```", ""]
    write_plans(out, os.path.join(REPO, "PLANS.md"))
    spark.stop()
    print("PLANS.md written")


if __name__ == "__main__":
    main()
