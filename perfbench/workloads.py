"""Workload definitions: which registered queries run, over which
generated inputs, and which outputs are also written through a sink."""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field

import gen

# Bump when the generator's output changes, so cached inputs and
# oracle results from an older generator are not reused.
GEN_VERSION = 1


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    generator: str  # function in gen.py: (out_dir, seed, **params)
    params: dict
    # Passes after the cold one that are run but not measured: the JIT
    # compiler is still busy in them and each is cheaper than the last.
    # At least one: the last checks every result against the oracle.
    warmup_passes: int
    # Queries whose output is also written as reference ``mr-out`` text
    # (nReduce=10): query name -> (key column, value columns). A line is
    # the key and the values joined by single spaces.
    sinks: dict[str, tuple[str, tuple[str, ...]]] = field(default_factory=dict)

    def make(self, out_dir: str, seed: int) -> None:
        getattr(gen, self.generator)(out_dir, seed, **self.params)

    def input_key(self, seed: int) -> str:
        """Names one generated input: same key, same bytes."""
        p = json.dumps([GEN_VERSION, self.generator, self.params], sort_keys=True)
        return f"{self.name}-s{seed}-{hashlib.md5(p.encode()).hexdigest()[:8]}"


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="mapreduce_text",
            queries=(
                "wordcount",
                "inverted_index",
                "mapreduce_wordcount",
            ),
            generator="corpus",
            params={"n_docs": 750, "vocab": 30_000, "mean_tokens": 115},
            warmup_passes=2,
            sinks={"wordcount": ("word", ("cnt",))},
        ),
        Workload(
            name="vector_knn",
            queries=("knn_cosine_bruteforce",),
            generator="vectors",
            params={"n_vec": 2000, "dim": 64},
            warmup_passes=5,
        ),
    )
}
