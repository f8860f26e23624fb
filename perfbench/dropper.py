"""Open-loop file generator for the ``stream_ingest`` workload.

Runs as its own process so its schedule never waits on the system under
test: file ``i`` (sorted by name) of ``--src`` is renamed into ``--dst`` at
``--start + i / --rate`` on the machine-wide monotonic clock. The rename is
atomic, so the stream source never sees a half-written file. At the end it
writes ``{name: [scheduled, actual]}`` to ``--log``.

    python3 perfbench/dropper.py --src S --dst D --rate 2.5 --start T --log L
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", required=True)
    ap.add_argument("--dst", required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--log", required=True)
    args = ap.parse_args()
    log = {}
    for i, name in enumerate(sorted(os.listdir(args.src))):
        due = args.start + i / args.rate
        wait = due - time.monotonic()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(args.src, name), os.path.join(args.dst, name))
        log[name] = [due, time.monotonic()]
    with open(args.log, "w") as fh:
        json.dump(log, fh)


if __name__ == "__main__":
    main()
