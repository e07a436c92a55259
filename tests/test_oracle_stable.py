"""oracle_sql() text must be byte-identical across processes: a consumer
that fingerprints it reads any set- or hash-order dependence in an oracle
builder as a changed oracle."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DIGEST = (
    "import hashlib, json, __spark_entry__ as e\n"
    "d = e.oracle_sql()\n"
    "print(len(d), hashlib.sha256("
    "json.dumps(d, sort_keys=True).encode()).hexdigest())\n"
)


def test_oracle_sql_byte_stable_across_processes(sf_dir):
    outs = []
    # different string-hash seeds expose set/dict-order dependence
    for hash_seed in ("1", "2"):
        env = dict(os.environ, PYTHONHASHSEED=hash_seed,
                   SPARK_GRAFT_TEST_SF_DIR=sf_dir)
        res = subprocess.run(
            [sys.executable, "-c", _DIGEST], cwd=ROOT, env=env,
            capture_output=True, text=True, timeout=300, check=True,
        )
        outs.append(res.stdout.strip().splitlines()[-1])
    n, _ = outs[0].split()
    assert int(n) > 0
    assert outs[0] == outs[1]
