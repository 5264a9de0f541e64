"""Interleaved same-epoch A/B bench: r10-final code vs r11-final code.

VERDICT r10 item 2: one clean, driver-comparable record set — same epoch,
back-to-back, 3 idle runs per code point, interleaved (r10, r11, r10, ...)
so ambient drift hits both sides equally, ALL totals committed (not just
the cleanest). Artifact stores in the temp dir (``TMPDIR``, else /tmp)
are cleared before EVERY run so both sides pay identical cold-build costs
inside the bench's own min-of-3 methodology (the bench builds artifacts on
run 1 and serves warm on runs 2-3 within the process — the min therefore
reports steady-state serving either way, but shared on-disk layouts must
not leak one side's file layout into the other side's listing costs).

Usage: python tools/ab_bench.py <r10_tree> <r11_tree> <out_dir> [pairs]
Writes <out_dir>/r11_ab_{r10,r11}_run{i}.json, each run's bench stderr to
the matching .log, and prints a summary JSON.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile

ARTIFACT_PREFIXES = [
    "bm25_idx_v", "bpe_tok_v", "events_stream_", "ivf_cmp_idx_v",
    "ivf_idx_v", "ivf_inc_idx_v", "ivfadc_idx_v", "mh_band_idx_",
    "mh_idx_append_", "mh_idx_cmp_base_", "mh_idx_cmp_gen2_",
    "mh_idx_stream_", "mh_probe_drop_", "mh_stream_drop_",
    "mr_chunk_stream_", "nb_model_v", "nb_stream_drop_",
    "pq_full_idx_v", "pq_inc_idx_v",
]


def clear_artifacts() -> int:
    """Remove the engine's artifact stores from the temp dir the bench's
    stores use (``TMPDIR`` if set); return how many are really gone."""
    n = 0
    for pre in ARTIFACT_PREFIXES:
        for p in glob.glob(os.path.join(tempfile.gettempdir(), pre + "*")):
            shutil.rmtree(p, ignore_errors=True)
            if not os.path.lexists(p):
                n += 1
    return n


def run_bench(tree: str, out_json: str) -> dict:
    """Run ``bench.py`` in ``tree``; its stderr goes to a ``.log`` beside
    ``out_json``, and a failure quotes that log's tail."""
    env = dict(os.environ)
    env["BENCH_OUT"] = out_json
    env.setdefault("SPARK_GRAFT_CPUS", "32")
    log_path = os.path.splitext(out_json)[0] + ".log"
    with open(log_path, "w", encoding="utf-8") as log:
        proc = subprocess.run(
            [sys.executable, "bench.py"], cwd=tree, env=env,
            stdout=subprocess.PIPE, stderr=log, text=True,
        )
    if proc.returncode != 0 or not os.path.exists(out_json):
        with open(log_path, encoding="utf-8", errors="replace") as f:
            tail = f.read()[-3000:]
        raise RuntimeError(
            f"bench failed in {tree}: rc={proc.returncode}, "
            f"{out_json} {'written' if os.path.exists(out_json) else 'missing'}; "
            f"stderr tail ({log_path}):\n{tail}"
        )
    with open(out_json, encoding="utf-8") as f:
        return json.load(f)


def main() -> int:
    r10_tree, r11_tree = sys.argv[1], sys.argv[2]
    out_dir = os.path.abspath(sys.argv[3])  # bench runs with cwd=<tree>
    pairs = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    os.makedirs(out_dir, exist_ok=True)
    totals: dict[str, list[float]] = {"r10": [], "r11": []}
    for i in range(1, pairs + 1):
        for side, tree in (("r10", r10_tree), ("r11", r11_tree)):
            cleared = clear_artifacts()
            out = os.path.join(out_dir, f"r11_ab_{side}_run{i}.json")
            rec = run_bench(tree, out)
            totals[side].append(rec["value"])
            with open("/proc/loadavg", encoding="utf-8") as f:
                load = f.read().split()[0]
            print(
                f"pair {i} {side}: total={rec['value']} "
                f"(cleared {cleared} artifact dirs, load_after={load})",
                flush=True,
            )
    print(json.dumps({"r10_totals": totals["r10"], "r11_totals": totals["r11"]}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
