#!/usr/bin/env python3
"""Re-record perfbench/digests.json: the digest of the canary input and
of every workload's inputs for seeds 0..31 at the sizes in run.py.

    python3 perfbench/record_digests.py

Run it only when the generator or a size changes on purpose; run.py
fails a run whose inputs do not match the recorded digest.
"""

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

SEEDS = range(32)


def main():
    table = {}
    tmp = tempfile.mkdtemp(dir=HERE, prefix="digests-")
    try:
        d = os.path.join(tmp, "canary")
        os.makedirs(d)
        gen.canary(d)
        table["canary"] = gen.digest(d)
        for w in sorted(run.SIZES):
            key = run.size_key(w)
            table[w] = {key: {}}
            for seed in SEEDS:
                d = os.path.join(tmp, "%s-%d" % (w, seed))
                os.makedirs(d)
                run.generate(w, seed, d)
                table[w][key][str(seed)] = gen.digest(d)
                shutil.rmtree(d)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(HERE, "digests.json"), "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
