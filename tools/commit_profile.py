"""Commit-path profile: the benchmark fixture's file layout, then py4j
calls, files added and wall time per INSERT / MERGE / DELETE for the
statement shapes of ``perfbench/fgac.py``, run through the writer's
``SecureSession``.

    python3 tools/commit_profile.py [--seed 7] [--rounds 7] [--warmup 2]

Prints one JSON line: live files per table after ``fgac.build_fixture``,
the median per commit kind over the rounds after the warm-up, and the
live claims files at the end. py4j calls are counted by wrapping py4j's
``send_command``, so they include every driver-to-JVM round trip the
statement makes (planning, policy checks and the writes themselves).
``py4j_calls_without_gc`` leaves out py4j's own object release
commands: Python's garbage collector sends them whenever it drops JVM
proxies, during whatever statement happens to run, so they make
``py4j_calls`` of one unchanged statement move between runs.
"""

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KINDS = ("insert", "merge", "delete")


def _count_py4j_calls() -> list[int]:
    """``[all calls, object release calls]``, counted as they are sent."""
    import py4j.clientserver as cs
    import py4j.java_gateway as jg
    from py4j import protocol

    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    calls = [0, 0]
    for cls in (cs.ClientServerConnection, jg.GatewayConnection):
        real = cls.send_command

        def counted(self, command, *a, _real=real, **k):
            calls[0] += 1
            calls[1] += command.startswith(release)
            return _real(self, command, *a, **k)

        cls.send_command = counted
    return calls


def _statement(kind, rng, ids, i, fgac, gen) -> str:
    if kind == "insert":
        rows = [
            gen.claim_row(rng, f"PRF{i:06d}{j:03d}", fgac.N_PATIENTS, gen._T0)
            for j in range(fgac.INSERT_ROWS)
        ]
        return f"INSERT INTO claims VALUES {fgac._values(rows)}"
    pick = rng.sample(ids, fgac.UPDATE_ROWS)
    if kind == "merge":
        src = " UNION ALL ".join(
            f"SELECT {fgac._lit(c)} AS claim_id, "
            f"CAST({rng.randrange(1000, 100000) / 100} AS DECIMAL(10,2)) AS amount"
            for c in pick
        )
        return (
            f"MERGE INTO claims t USING ({src}) s ON t.claim_id = s.claim_id "
            "WHEN MATCHED THEN UPDATE SET amount = s.amount"
        )
    for c in pick:
        ids.remove(c)
    return f"DELETE FROM claims WHERE claim_id IN ({', '.join(fgac._lit(c) for c in pick)})"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--rounds", type=int, default=7)
    ap.add_argument("--warmup", type=int, default=2)
    args = ap.parse_args()

    calls = _count_py4j_calls()
    from perfbench import fgac, gen
    from sample_emr_on_eks_fgac_iceberg_spark.session import build_session

    spark = build_session(app_name="commit-profile")
    root = tempfile.mkdtemp(prefix="commit-profile-")
    try:
        claims = gen.claims(args.seed, fgac.N_CLAIMS, fgac.N_PATIENTS)
        engine = fgac.build_fixture(
            spark, root, gen.patients(args.seed, fgac.N_PATIENTS), claims
        )
        wh = engine.warehouse
        out = {
            "seed": args.seed,
            "fixture_live_files": {
                t: len(wh._live_files(wh._read_meta(t))) for t in ("claims", "patients")
            },
        }
        writer = engine.session_for("writer")
        rng, ids = random.Random(args.seed), [r[0] for r in claims]
        per = {
            k: {"py4j_calls": [], "py4j_calls_without_gc": [], "files_added": [], "wall_ms": []}
            for k in KINDS
        }
        for i in range(args.rounds):
            for kind in KINDS:
                sql = _statement(kind, rng, ids, i, fgac, gen)
                n_snap = len(wh.snapshots("claims"))
                (c0, g0), t0 = calls[:], time.perf_counter()
                res = writer.sql(sql)
                if res is not None:
                    res.collect()
                wall_ms, n_calls = (time.perf_counter() - t0) * 1000, calls[0] - c0
                if i < args.warmup:
                    continue
                added = wh._read_meta("claims").snapshots[n_snap:]
                per[kind]["py4j_calls"].append(n_calls)
                per[kind]["py4j_calls_without_gc"].append(n_calls - (calls[1] - g0))
                per[kind]["wall_ms"].append(round(wall_ms, 1))
                per[kind]["files_added"].append(sum(len(s["added_files"]) for s in added))
        out["per_commit_median"] = {
            k: {m: statistics.median(v) for m, v in d.items()} for k, d in per.items()
        }
        out["claims_live_files_after"] = len(wh._live_files(wh._read_meta("claims")))
        print(json.dumps(out))
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
