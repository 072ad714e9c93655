"""Copy of the engine's star-schema testdata that the ``fixpoint`` workload
reads.

The benchmark reads nothing outside its checkout, so the tables the workload
needs, at scale factor 0.01, are kept byte for byte under
``perfbench/data/``:

    perfbench/data/sf0.01/{orders,lineitem}.parquet
    perfbench/data/SHA256SUMS

``run.py`` checks every file against ``SHA256SUMS`` before a run. To rebuild
the copy from a testdata root that holds ``sf0.01/``::

    python3 perfbench/copy_testdata.py --from <testdata root>

and to check the copy only::

    python3 perfbench/copy_testdata.py --check
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
SUMS = os.path.join(DATA, "SHA256SUMS")
SF = "sf0.01"
TABLES = ["orders", "lineitem"]


def _files() -> list[str]:
    return [f"{SF}/{t}.parquet" for t in TABLES]


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def check() -> list[str]:
    """Files missing from the copy or differing from ``SHA256SUMS``."""
    if not os.path.isfile(SUMS):
        return [SUMS]
    with open(SUMS) as fh:
        want = dict(reversed(line.split()) for line in fh if line.strip())
    bad = [f for f in _files() if f not in want]
    for rel, digest in want.items():
        path = os.path.join(DATA, rel)
        if not os.path.isfile(path) or _sha256(path) != digest:
            bad.append(rel)
    return bad


def copy(src_root: str) -> None:
    lines = []
    for rel in _files():
        dst = os.path.join(DATA, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(os.path.join(src_root, rel), dst)
        os.chmod(dst, 0o644)
        lines.append(f"{_sha256(dst)}  {rel}\n")
    with open(SUMS, "w") as fh:
        fh.writelines(lines)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    group = ap.add_mutually_exclusive_group(required=True)
    group.add_argument("--from", dest="src", help="testdata root holding sf0.01/")
    group.add_argument("--check", action="store_true")
    args = ap.parse_args()
    if args.src:
        copy(args.src)
    bad = check()
    for rel in bad:
        print(f"differs or missing: {rel}", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
