"""Dump `.explain("formatted")` for contract queries to plans/<tag>/.

Usage: python tools/plan_dump.py <tag> [query ...]     (default: every
registered contract query)

Writes plans/<tag>/<query>_<suffix>.txt where <suffix> comes from
`--suffix=before|after` or `--suffix before|after` (default `before`).
Queries whose pipeline eagerly localCheckpoints subtrees execute those jobs
at plan-build time — run against a small SF (default sf0.01) so the dump
stays cheap.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = os.environ.get("PLAN_DUMP_SF", "/root/testdata/sf0.01")


def main() -> None:
    argv = sys.argv[1:]
    suffix = "before"
    args: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--suffix="):
            suffix = a.split("=", 1)[1]
        elif a == "--suffix" and i + 1 < len(argv):
            suffix = argv[i + 1]
            i += 1
        elif not a.startswith("--"):
            args.append(a)
        i += 1
    tag = args[0] if args else "r13"
    wanted = args[1:]

    import __spark_entry__ as entrymod
    from pulsar_replay_spark.session import get_spark

    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    names = wanted or sorted(qs)
    outdir = Path(__file__).resolve().parent.parent / "plans" / tag
    outdir.mkdir(parents=True, exist_ok=True)
    for name in names:
        if name not in qs:
            print(f"SKIP {name}: not registered")
            continue
        try:
            df = qs[name](spark, SF)
            # public API: df.explain prints to stdout — capture via redirect
            # (the private PythonSQLUtils bridge broke across versions)
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR building plan: {type(e).__name__}: {e}"
        (outdir / f"{name}_{suffix}.txt").write_text(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan)} chars)")


if __name__ == "__main__":
    main()
