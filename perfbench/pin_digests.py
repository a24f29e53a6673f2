"""Pin output digests: merge the ``digests`` of every run record under
``.perfbench_out/`` into ``perfbench/digests.json``, which later runs of
the same workload and seed check their outputs against.

    python3 perfbench/pin_digests.py

Pin only from runs whose outputs passed the generator-derived checks
(``correct`` true), on a commit whose output is known to be right.
"""

import glob
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
PINS = os.path.join(HERE, "digests.json")


def main() -> None:
    with open(PINS) as f:
        pins = json.load(f)
    for path in sorted(glob.glob(os.path.join(os.path.dirname(HERE), ".perfbench_out", "*.json"))):
        with open(path) as f:
            record = json.load(f)
        if record["errors"]:
            continue
        for key, value in record["digests"].items():
            if pins.setdefault(key, value) != value:
                raise SystemExit(f"{path}: {key} disagrees with the pinned digest")
    with open(PINS, "w") as f:
        json.dump(dict(sorted(pins.items())), f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
