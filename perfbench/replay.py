"""In-process, single-threaded replay of one ``extract_from_parquet_files``
task body over the bucketed input files: read each file with pyarrow, run
``pipeline.make_partition_arrow_kernel`` on it and write the result, with
a span around each step and around every kernel phase call."""

from __future__ import annotations

import os

from inputs import INPUT_COLS
from tracing import KERNEL_PHASES, Tracer, kernel_phase_spans, self_time_by_name


def replay(files: list[str], out_dir: str, tracer: Tracer) -> dict[str, float]:
    """Per-layer metrics of the replay (``pipeline.*`` and ``kernels.*``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eynollah_spark.pipeline import make_partition_arrow_kernel

    os.makedirs(out_dir, exist_ok=True)
    first = len(tracer.spans)
    kern = make_partition_arrow_kernel(include_payload=True)
    with tracer.span("replay"), kernel_phase_spans(tracer):
        for k, fp in enumerate(files):
            with tracer.span("pipeline.scan"):
                table = pq.read_table(fp, columns=INPUT_COLS)
            with tracer.span("pipeline.wrapper"):
                outs = list(kern(iter(table.to_batches())))
            with tracer.span("pipeline.write"):
                if outs:
                    pq.write_table(pa.Table.from_batches(outs),
                                   os.path.join(out_dir, f"part-{k}.parquet"))
    spans = tracer.spans[first:]
    by_name = self_time_by_name(spans)
    docs = len([s for s in spans if s.name == "layout_permutation"])
    kernel_s = sum(s.duration for s in spans if s.name == "layout_permutation")
    out = {
        "kernels.ms_per_doc": 1e3 * kernel_s / max(docs, 1),
        "pipeline.scan_s": by_name.get("pipeline.scan", (0.0, 0))[0],
        "pipeline.wrapper_self_s": by_name.get("pipeline.wrapper", (0.0, 0))[0],
        "pipeline.write_s": by_name.get("pipeline.write", (0.0, 0))[0],
        "replay.total_s": spans[0].duration,
    }
    for _, phase in KERNEL_PHASES:
        t, n = by_name.get(phase, (0.0, 0))
        out[f"kernels.{phase}.self_s"] = t
        out[f"kernels.{phase}.calls"] = n
    return out
