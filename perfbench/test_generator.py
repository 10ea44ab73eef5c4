"""Generator determinism test: the same seed gives byte-identical inputs for
every workload, and another seed gives different bytes in every file.

    python3 perfbench/test_generator.py
"""

import json
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def main() -> int:
    r = subprocess.run([sys.executable, str(RUN), "--workload", "gencheck", "--seed", "7",
                        "--seconds", "1", "--trace", "0"], stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    ok = r.returncode == 0 and bool(lines) and json.loads(lines[-1])["correct"]
    print("PASS" if ok else "FAIL", lines[-1] if lines else "")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
