"""Record the corpus fingerprint of seeds 0..N-1 in fingerprints.json.

    python3 perfbench/pin_fingerprints.py 32

Generates each seed's blocks through ``common.generate_corpus``, as the
benchmark does. Run it only when the generator is meant to change: every
benchmark run compares its corpus against the recorded fingerprint and
fails on drift.
"""

from __future__ import annotations

import json
import sys

import common as C


def main() -> None:
    n_seeds = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    sys.path.insert(0, C.ROOT)
    seeds = {}
    for seed in range(n_seeds):
        _batches, summaries, keep = C.generate_corpus(seed)
        seeds[str(seed)] = C.fingerprint([summaries[i] for i in keep])
    out = {
        "corpus": {"candidate_blocks": C.CANDIDATE_BLOCKS, "n_blocks": C.N_BLOCKS,
                   "rows_per_source": C.ROWS_PER_SOURCE, "target_tokens": C.TARGET_TOKENS,
                   "block_base": C.BLOCK_BASE},
        "seeds": seeds,
    }
    with open(C.FINGERPRINTS, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
