"""Camera generator process for the ``camera_stream`` workload.

Publishes pre-staged frame files on a fixed schedule, independent of the
engine: tick ``k`` is due at ``t0 + k * tick``. At its due time the file's
frame timestamps are stamped in place with that scheduled creation time and
the file is renamed atomically into the watched directory. How late each
publication ran is written to ``--report`` when the schedule ends.

    python3 camgen.py --stage DIR --out DIR --manifest M.json \
        --t0 EPOCH --tick 0.25 --first 0 --ticks 32 --report R.json
"""

from __future__ import annotations

import argparse
import json
import os
import time

from gen import iso_ts


def stamp(path: str, offsets: list[int], ts: str) -> None:
    """Write ``ts`` at every offset of the file at ``path``; this also sets
    its modification time, which is the order a file source reads files in."""
    with open(path, "r+b") as fh:
        for off in offsets:
            os.pwrite(fh.fileno(), ts.encode("ascii"), off)


def publish(stage: str, out: str, name: str, offsets: list[int], ts: str) -> None:
    """Stamp ``ts`` into ``stage/name`` and move it to ``out`` atomically."""
    src = os.path.join(stage, name)
    stamp(src, offsets, ts)
    os.rename(src, os.path.join(out, name))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--stage", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--tick", type=float, required=True)
    ap.add_argument("--first", type=int, default=0)
    ap.add_argument("--ticks", type=int, required=True)
    ap.add_argument("--report", required=True)
    args = ap.parse_args()
    with open(args.manifest) as fh:
        manifest = json.load(fh)
    late = []
    for k in range(args.first, args.first + args.ticks):
        due = args.t0 + (k - args.first) * args.tick
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        name, offsets = manifest[k]
        publish(args.stage, args.out, name, offsets, iso_ts(due))
        late.append(time.time() - due)
    with open(args.report, "w") as fh:
        json.dump({"late_s": late}, fh)


if __name__ == "__main__":
    main()
