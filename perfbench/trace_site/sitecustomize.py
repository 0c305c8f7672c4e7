"""Layer tracing for the benchmark's traced pass, loaded by the Python
workers only when run.py puts this directory on their path.

It wraps the public entry points of each layer and sums, per task, wall
time, self time (wall minus the time of traced calls made inside) and
counts into a dict accumulator whose id arrives in PERFBENCH_TRACE_AID.
The worker sends the accumulator back at the end of every task.

Spans (name: what it times):
  kernel              a mapInArrow function, per output batch (its self time
                      is the harness left after the spans below)
  spark.input         the kernel pulling its next input batch (not UDF time)
  extract.decode      from a batch's arrival to the kernel's first layer call
                      (the to_pylist decode)
  extract.assemble    operators.extract.assemble_html
  extract.encode      pyarrow.array inside a kernel
  treebuilder.parse   kernel.treebuilder.parse
  textops.extract     kernel.textops.extract_spans
  dom.resolve_url     kernel.dom.resolve_url
  selector.select     kernel.selector.select
  html.udf            a scalar pandas UDF body (functions.html)
Counts only: HtmlTreeBuilder.process (the Python bails out of the C tree
engine, timed but not nested) and stream_parser.stream_title.
"""

import os

if os.environ.get("PERFBENCH_TRACE_AID") is not None:
    import time

    import pyarrow as pa
    import pyspark.worker as _worker
    from pyspark.accumulators import Accumulator, _accumulatorRegistry

    import ksoup_spark.functions.html as _html
    import ksoup_spark.kernel.dom as _dom
    import ksoup_spark.kernel.selector as _sel
    import ksoup_spark.kernel.stream_parser as _sp
    import ksoup_spark.kernel.textops as _tx
    import ksoup_spark.kernel.treebuilder as _tb
    import ksoup_spark.operators.extract as _ex

    _AID = int(os.environ["PERFBENCH_TRACE_AID"])
    _now = time.perf_counter_ns
    _stack = []          # child time of each open span
    _arrived = [0]       # arrival time of a batch not yet handed to a layer
    _in_kernel = [0]
    _in_process = [False]

    def _stats():
        acc = _accumulatorRegistry.get(_AID)
        if acc is None:  # first traced call of this task
            acc = Accumulator(_AID, {}, None)
        return acc._value

    def _add(st, key, v):
        st[key] = st.get(key, 0) + v

    def _close_decode(t):
        t0 = _arrived[0]
        if t0:
            _arrived[0] = 0
            st = _stats()
            _add(st, "extract.decode.self_ns", t - t0)
            _add(st, "extract.decode.calls", 1)
            if _stack:
                _stack[-1] += t - t0

    def _span(name, fn, count=None):
        def traced(*a, **kw):
            t0 = _now()
            _close_decode(t0)
            _stack.append(0)
            try:
                r = fn(*a, **kw)
            finally:
                d = _now() - t0
                child = _stack.pop()
                st = _stats()
                _add(st, name + ".ns", d)
                _add(st, name + ".self_ns", d - child)
                _add(st, name + ".calls", 1)
                if _stack:
                    _stack[-1] += d
            if count is not None:
                count(st, a, r)
            return r
        traced.__wrapped__ = fn
        return traced

    class _Input:
        """The kernel's input iterator: waiting on it is Spark's time."""

        def __init__(self, it):
            self.it = iter(it)

        def __iter__(self):
            return self

        def __next__(self):
            t0 = _now()
            try:
                b = next(self.it)
            finally:
                t1 = _now()
                st = _stats()
                _add(st, "spark.input.ns", t1 - t0)
                if _stack:
                    _stack[-1] += t1 - t0
            _add(st, "spark.batches", 1)
            _add(st, "spark.rows", b.num_rows)
            _add(st, "extract.arrow_bytes_in", b.nbytes)
            _arrived[0] = t1
            return b

    def _traced_kernel(f):
        def kernel(batches):
            out = iter(f(_Input(batches)))
            while True:
                t0 = _now()
                _stack.append(0)
                _in_kernel[0] += 1
                b = None
                try:
                    b = next(out)
                except StopIteration:
                    pass
                finally:
                    d = _now() - t0
                    child = _stack.pop()
                    _in_kernel[0] -= 1
                    _arrived[0] = 0
                    st = _stats()
                    _add(st, "kernel.self_ns", d - child)
                    _add(st, "kernel.ns", d)
                if b is None:
                    return
                _add(st, "extract.arrow_bytes_out", b.nbytes)
                yield b
        return kernel

    _wrap_iter = _worker.wrap_arrow_batch_iter_udf
    _wrap_scalar = _worker.wrap_scalar_pandas_udf

    def wrap_arrow_batch_iter_udf(f, return_type, runner_conf):
        return _wrap_iter(_traced_kernel(f), return_type, runner_conf)

    def wrap_scalar_pandas_udf(f, args_offsets, kwargs_offsets, return_type,
                               runner_conf):
        return _wrap_scalar(_span("html.udf", f), args_offsets, kwargs_offsets,
                            return_type, runner_conf)

    _worker.wrap_arrow_batch_iter_udf = wrap_arrow_batch_iter_udf
    _worker.wrap_scalar_pandas_udf = wrap_scalar_pandas_udf

    def _count_parse(st, a, r):
        _add(st, "treebuilder.parse.chars", len(a[0]) if a and a[0] else 0)

    def _count_spans(st, a, r):
        _add(st, "textops.extract.spans", len(r))

    def _count_matches(st, a, r):
        _add(st, "selector.select.matches", len(r))

    _parse = _span("treebuilder.parse", _tb.parse, _count_parse)
    _tb.parse = _ex._parse = _html._parse = _parse
    _extract = _span("textops.extract", _tx.extract_spans, _count_spans)
    _tx.extract_spans = _ex._kernel_extract_spans = _extract
    _dom.resolve_url = _span("dom.resolve_url", _dom.resolve_url)
    _sel.select = _span("selector.select", _sel.select, _count_matches)
    _ex.assemble_html = _span("extract.assemble", _ex.assemble_html)

    _pa_array = pa.array

    def _array(*a, **kw):
        if _in_kernel[0]:
            return _encode(*a, **kw)
        return _pa_array(*a, **kw)

    _encode = _span("extract.encode", _pa_array)
    pa.array = _array

    _process = _tb.HtmlTreeBuilder.process

    def process(self, tok):
        if _in_process[0]:
            return _process(self, tok)
        _in_process[0] = True
        t0 = _now()
        try:
            return _process(self, tok)
        finally:
            _in_process[0] = False
            st = _stats()
            _add(st, "treebuilder.process.ns", _now() - t0)
            _add(st, "treebuilder.process.calls", 1)

    _tb.HtmlTreeBuilder.process = process

    _stream_title = _sp.stream_title

    def stream_title(html):
        _add(_stats(), "stream_title.calls", 1)
        return _stream_title(html)

    _sp.stream_title = stream_title
