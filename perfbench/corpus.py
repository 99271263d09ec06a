"""The seeded inputs, generated in a child process while the parent starts
the JVM, so the two overlap.

- ``pages``: a ``fixtures.generator`` web_pages table of every document
  kind (LD programs and segments, PA, Yle, ASR, flow), for
  ``build_staged``;
- ``graph``: the ``perfbench.kg`` triple table, for ``sparql_mix``.

    python3 -m perfbench.corpus <pages|graph> <seed> <out_dir>
"""

from __future__ import annotations

import os
import subprocess
import sys

# ~1k pages, ~37k distinct triples. A build on a 4-core host is dominated
# by per-plan and per-job costs, not data (README.md).
SIZE = {"n_ld": 360, "n_pa": 240, "n_yle": 120, "n_asr": 18}


def generate_pages(seed: int, out_dir: str) -> int:
    from fixtures.generator import build_corpus

    b = build_corpus(out_dir, seed=seed, write_reference_layout=False,
                     n_files=len(os.sched_getaffinity(0)), **SIZE)
    return len(b.pages)


def generate_graph(seed: int, out_dir: str) -> int:
    from perfbench import kg

    return kg.write(seed, out_dir)


GENERATORS = {"pages": generate_pages, "graph": generate_graph}
OUTPUT = {"pages": "web_pages", "graph": "graph.parquet"}


class Generation:
    """The ``kind`` input for ``seed`` being written to ``out_dir`` by a
    child."""

    def __init__(self, root: str, kind: str, seed: int, out_dir: str):
        self.kind = kind
        self.out_dir = out_dir
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.corpus", kind, str(seed),
             out_dir],
            cwd=root, stdout=subprocess.PIPE, text=True)

    def result(self):
        """Wait for the child; returns (input path, pages or triples)."""
        out, _ = self.proc.communicate(timeout=300)
        if self.proc.returncode != 0:
            raise RuntimeError("input generation exited with %d"
                               % self.proc.returncode)
        return (os.path.join(self.out_dir, OUTPUT[self.kind]),
                int(out.split()[-1]))

    def close(self):
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


if __name__ == "__main__":
    print(GENERATORS[sys.argv[1]](int(sys.argv[2]), sys.argv[3]))
