"""Worker code calls chatdata_spark functions on Python workers whose path
need not hold the package (a driver running off the repo cwd), so the
package ships by value (``chatdata_spark/__init__.py``). Each case pickles
one package function that worker code calls, unpickles and runs it in an
isolated interpreter that cannot import the package, and compares the
result with the in-process call."""

from __future__ import annotations

import pickle
import subprocess
import sys
from collections import Counter

import numpy as np
import pytest
from pyspark import cloudpickle

from chatdata_spark.operators.bloomjoin import _bloom_positions
from chatdata_spark.operators.bpe import _merge_pair
from chatdata_spark.operators.heavyhitters import _mg_compress
from chatdata_spark.operators.kmeans import _overflow_bound
from chatdata_spark.operators.lsh import _pack_keys
from chatdata_spark.operators.mmr import mmr_greedy
from chatdata_spark.operators.packing import bfd_pack
from chatdata_spark.operators.pq import _encode_np
from chatdata_spark.operators.repetition import repetition_stats_py
from chatdata_spark.operators.spancorrupt import corruption_plan_py
from chatdata_spark.operators.unigram import viterbi_pieces

_WORDS = "the cat sat on the mat the cat sat on the mat again and again".split()

CASES = {
    "_encode_np": (_encode_np, (np.eye(2, 8), np.zeros((1, 256, 8)))),
    "mmr_greedy": (mmr_greedy, ([7, 3], np.eye(2), [1.0, 0.0], 2, 0.5)),
    "bfd_pack": (bfd_pack, ([(1, 5), (2, 3), (3, 9), (4, 2), (5, 3)], 8)),
    "repetition_stats_py": (repetition_stats_py, (_WORDS,)),
    "viterbi_pieces": (viterbi_pieces, ("hello", {"h": -1.0, "e": -1.0, "l": -1.0, "o": -1.0, "he": -0.5, "llo": -0.7}, 3)),
    "corruption_plan_py": (corruption_plan_py, (7, _WORDS * 4)),
    "_pack_keys": (_pack_keys, (np.array([[True, False, True, True], [False, False, True, False]]), 2, 2)),
    "_overflow_bound": (_overflow_bound, (64,)),
    "_mg_compress": (_mg_compress, (Counter("abracadabra"), 2)),
    "_merge_pair": (_merge_pair, (list("ababc"), "a", "b")),
    "_bloom_positions": (_bloom_positions, (np.array([-5, 0, 1 << 40, 12345], dtype=np.int64), 1024, 3)),
}

_PROBE = (
    "import pickle, sys\n"
    "try:\n"
    "    import chatdata_spark  # noqa: F401\n"
    "    sys.exit('package importable: probe proves nothing')\n"
    "except ImportError:\n"
    "    pass\n"
    "f, args = pickle.loads(sys.stdin.buffer.read())\n"
    "sys.stdout.buffer.write(pickle.dumps(f(*args)))\n"
)


@pytest.mark.parametrize("name", sorted(CASES))
def test_worker_function_pickles_by_value(tmp_path, name):
    fn, args = CASES[name]
    out = subprocess.run(
        [sys.executable, "-I", "-c", _PROBE],
        input=cloudpickle.dumps((fn, args)), cwd=tmp_path, capture_output=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr.decode()[-2000:]
    np.testing.assert_equal(pickle.loads(out.stdout), fn(*args))
