"""In-memory spans around the program's public calls, for the traced run.

A span records its name, start, end, parent span and the id of the
operation it belongs to. Spans stay in a list until the run ends. A
layer's self time is its spans' durations minus the time their child
spans cover.

Wrappers are installed where the caller looks a name up: a module that
did ``from .codegen import clean_code`` calls its own binding, so the
wrapper goes on that module's attribute, not on the defining module.
:meth:`Tracer.uninstall` puts every original back.
"""

from __future__ import annotations

import functools
import importlib
import time
from dataclasses import dataclass, field

# (layer name, "module:attribute" or "module:Class.method") — every place
# the program looks up a public call the benchmark times
PATCH_POINTS = [
    ("agent.prompt", "pandas_ai_spark.agent.base:build_chat_prompt"),
    ("agent.clean_code", "pandas_ai_spark.agent.base:clean_code"),
    ("agent.exec", "pandas_ai_spark.agent.base:Agent._execute_code"),
    ("agent.parse", "pandas_ai_spark.agent.response:ResponseParser.parse"),
    ("agent.llm", "pandas_ai_spark.agent.llm:FakeLLM.call"),
    ("sql.sanitize", "pandas_ai_spark.sql.executor:is_sql_query_safe"),
    ("sql.extract_tables",
     "pandas_ai_spark.sql.executor:extract_table_names"),
    ("sql.execute", "pandas_ai_spark.sql.executor:SQLExecutor.execute"),
    ("plans.compile",
     "pandas_ai_spark.plans.compiler:SchemaCompiler.compile"),
    ("vectorstore.retrieve",
     "pandas_ai_spark.vectorstore:LocalVectorStore"
     ".get_relevant_question_answers"),
    ("vectorstore.retrieve",
     "pandas_ai_spark.vectorstore:LocalVectorStore.get_relevant_docs"),
    ("dataframe.head", "pandas_ai_spark.dataframe:DataFrame.head"),
    ("dataframe.to_pandas", "pyspark.sql.classic.dataframe:"
     "DataFrame.toPandas"),
    # the workload calls the package-level binding, pai.materialize
    ("datasets.materialize", "pandas_ai_spark:materialize"),
]


@dataclass
class Span:
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    error: str | None = None


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    op_id: int = -1
    _stack: list[int] = field(default_factory=list)
    _undo: list[tuple] = field(default_factory=list)

    # -- recording ---------------------------------------------------------

    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, self.op_id, parent, time.perf_counter()))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int, error: BaseException | None = None) -> None:
        self.spans[idx].end = time.perf_counter()
        if error is not None:
            self.spans[idx].error = type(error).__name__
        self._stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.begin(name)
            try:
                out = fn(*args, **kwargs)
            except BaseException as exc:
                self.end(idx, exc)
                raise
            self.end(idx)
            return out
        return traced

    # -- installing wrappers ------------------------------------------------

    def install(self) -> None:
        for name, target in PATCH_POINTS:
            mod_name, attr = target.split(":")
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            # on a class, wrap what attribute lookup resolves to (possibly
            # inherited) and set it on that class, so the class's own
            # lookup finds the wrapper first
            own = owner.__dict__.get(leaf)
            wrapped = self.wrap(name, getattr(owner, leaf))
            if isinstance(own, staticmethod):
                wrapped = staticmethod(wrapped)
            setattr(owner, leaf, wrapped)
            self._undo.append((owner, leaf, own))

    def uninstall(self) -> None:
        for owner, leaf, own in reversed(self._undo):
            if own is None:
                delattr(owner, leaf)
            else:
                setattr(owner, leaf, own)
        self._undo.clear()

    # -- summaries ----------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name, summed over the run."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def counts(self, name: str, error: str | None = None) -> int:
        return sum(1 for s in self.spans if s.name == name
                   and (error is None or s.error == error))
