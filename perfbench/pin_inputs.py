"""Record the generated inputs' row counts and fingerprints in pins.json.

    python3 perfbench/pin_inputs.py --seeds 0-31

Run from the repository root after a deliberate change to the generators.
Every benchmark run compares its inputs with these pins and refuses to
time inputs that differ.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run  # noqa: E402
from perfbench.workloads import CANARY_SEED, WORKLOADS  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", default="0-31", help="inclusive range A-B")
    args = p.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    work = os.path.join(run.WORK, f"pin-{os.getpid()}")
    run.prepare_environment(work)
    session = run.Session(os.cpu_count() or 1, 1 << 30, work)
    pins = {"canary": {}, "seeds": {}}
    try:
        spark = session.start()
        for name, wl in WORKLOADS.items():
            d = os.path.join(work, name)
            inputs = wl.generate(CANARY_SEED, d, small=True)
            pins["canary"][name] = run.fingerprint(spark, wl, inputs)
            shutil.rmtree(d)
            pins["seeds"][name] = {}
            for seed in range(lo, hi + 1):
                inputs = wl.generate(seed, d)
                pins["seeds"][name][str(seed)] = run.fingerprint(spark, wl, inputs)
                shutil.rmtree(d)
                print(name, seed, pins["seeds"][name][str(seed)], flush=True)
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)
    text = json.dumps(pins, indent=1, sort_keys=True)
    # one [rows, fingerprint] pair per line
    text = re.sub(r"\[\s+(-?\d+),\s+(-?\d+)\s+\]", r"[\1, \2]", text)
    with open(run.PINS, "w") as f:
        f.write(text + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
