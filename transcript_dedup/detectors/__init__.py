"""Candidate-pair detectors.

Three detectors (north rule), each emitting candidate edges
``(conv_a, conv_b, src)`` with ``conv_a < conv_b``:

  exact.py      content-hash equi-join (artist+title analogue,
                /root/reference/src/duplicates.ts:97-108)
  lsh.py        MinHash/LSH banded self-join with explicit two-pass skew
                salting (filename-fuzzy analogue at scale,
                /root/reference/src/duplicates.ts:110-140)
  substring.py  exact-substring containment via content-defined sampled
                k-grams + JVM instr verification

verify.py scores the unioned candidates (compareFiles analogue,
/root/reference/src/duplicates.ts:44-83) into the candidate_pairs table.

Each detector takes an optional ``probe`` side, the new conversations of a
streaming micro-batch: block statistics stay those of the whole input, and
only the pairs touching the probe are emitted (pipeline.detect_pairs).
"""

from .exact import exact_candidates
from .lsh import lsh_candidates, release_key_caches
from .substring import substring_candidates
from .verify import verify_candidates

__all__ = [
    "exact_candidates",
    "lsh_candidates",
    "release_key_caches",
    "substring_candidates",
    "verify_candidates",
]
