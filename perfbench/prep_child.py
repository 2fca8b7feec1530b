"""Run a job script under the benchmark's tracer, then dump its spans.

    python perfbench/prep_child.py jobs/prep_corpus.py <job args...>

The job runs unchanged as `__main__`. Every PySpark action is tagged with
its call site, and the job's public operators (dedup, BPE training) are
wrapped in spans. The spans go to the JSON file named by $PERFBENCH_SPANS
when the job exits.
"""

from __future__ import annotations

import os
import runpy
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tracing  # noqa: E402
from amr_kg_spark.operators import dedup, tokenize  # noqa: E402


def main() -> None:
    tracer = tracing.Tracer(run_id=f"child{os.getpid()}")
    tracer.tag_actions()
    tracer.wrap_function(dedup, "dedup_keep_representatives")
    for attr in ("sample_texts", "train_bpe", "build_vocab"):
        tracer.wrap_function(tokenize, attr)
    job = sys.argv[1]
    sys.argv = sys.argv[1:]
    try:
        runpy.run_path(job, run_name="__main__")
    finally:
        tracer.dump(os.environ["PERFBENCH_SPANS"])


if __name__ == "__main__":
    main()
