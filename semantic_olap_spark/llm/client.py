"""LLM client protocol, deterministic stub, and caching wrapper.

The reference requires exactly one method of its LLM object:
``predict(prompt) -> str`` (Semantic-OLAP/Agents/Components/
Operaters.py:69,343,388,423,487).  We keep that protocol and add
``predict_batch`` because every semantic operator here runs as an
Arrow-batched pandas UDF — a real backend would fan the batch out
concurrently; the stub just loops.

Executor-side construction: operators take an ``llm_factory``
(a picklable zero-arg callable) rather than a live client, and call
it inside the Python worker.  The client + cache it builds live for
one task, since the UDF is unpickled per task (the scope
``BudgetLLM`` documents).  The cache
(CachingLLM) is keyed by the full prompt — semantically the
reference-planned cache "keyed by (prompt-template, input, model)"
(SURVEY.md §4 physical layer), since the prompt embeds both template
and input.

StubLLM implements deterministic rule-based answers for every prompt
family in ``prompts.py`` — the reproducible-test strategy of
SURVEY.md §5 item 2.  Its rules are simple *string-containment and
token-count* semantics, chosen because they are exactly expressible
in ANSI SQL, which is what lets the driver's DuckDB oracle check the
semantic operators end-to-end.
"""

from __future__ import annotations

import json
import re
from typing import Callable, Iterable, Protocol

from semantic_olap_spark.llm import prompts as P


class LLM(Protocol):
    def predict(self, prompt: str) -> str: ...

    def predict_batch(self, batch: list[str]) -> list[str]: ...


class BaseLLM:
    def predict(self, prompt: str) -> str:  # pragma: no cover - abstract
        raise NotImplementedError

    def predict_batch(self, batch: list[str]) -> list[str]:
        return [self.predict(p) for p in batch]


def _count_occurrences(text: str, token: str) -> int:
    if not token:
        return 0
    return text.count(token)


class StubLLM(BaseLLM):
    """Deterministic rule-based LLM (SURVEY.md §5 test strategy).

    Rules (all case-insensitive on content):

    - sem_filter         → Yes iff ANY significant condition token is
                           a substring of the content.
    - sem_join           → Yes iff EVERY significant token of the
                           RIGHT row's values appears in the LEFT
                           row content (empty token set → No).
    - sem_map            → first vocabulary label (``one of: ...`` in
                           the instruction) whose text appears in the
                           content, else "NA"; without a vocabulary,
                           first significant instruction token found,
                           else "NA".
    - sem_group_induce   → the instruction's vocabulary + "other".
    - sem_group_classify → first tag appearing in content else last
                           tag (the catch-all).
    - sem_reduce         → "; "-joined ascending-sorted unique values.
    - sem_topk_pair      → side with more total occurrences of the
                           query's tokens; tie → A.
    - sem_score          → total occurrences of the query's tokens
                           in the content, as an integer string.
    - filter_enum        → values containing any condition token.
    - filter_pattern     → regex from the digit-masked template
                           (each <*> → capture group (\\d+)),
                           conditions parsed from ``<op> <number>``
                           pairs in the condition text.

    Planner/lifecycle families (§2.3 / §3.1):

    - dice_strategy      → proposes all three strategies (profiling
                           vetoes them downstream).
    - simple_filter_check→ YES iff the condition names a comparison
                           or containment.
    - direct_filter_plan → num_filter from ``<op> <number>`` pairs,
                           else keyword_filter from condition tokens.
    - keyword_expansion  → the condition's significant tokens.
    - field_pruning      → columns whose names appear in the query,
                           else all.
    - self_reduce        → count on count-words, else num_reduce with
                           the first agg word found.
    - granularity_match  → case-insensitive exact name match.
    - topk_intent        → "top N"/superlative regex; num iff the
                           matched field name looks numeric.
    - decompose_query    → splits on " then ".
    - filter_plan        → one atomic op per " and " clause; dice
                           when a clause names a column with a
                           numeric comparison, else slice.
    - react_step         → one structural action per query
                           (roll_up on "group X into Y", drill_down
                           on "extract X"), then null.
    - relation_classify  → token-set containment between queries.
    """

    def predict(self, prompt: str) -> str:
        task = P.task_of(prompt)
        fields, content = P.split_sections(prompt)
        lc = content.lower()
        if task == "sem_filter":
            toks = P.condition_tokens(fields.get("condition", ""))
            return "Yes" if any(t in lc for t in toks) else "No"
        if task == "sem_join":
            left_sec, _, right_sec = content.partition("<<<RIGHT>>>\n")
            left_sec = left_sec.replace("<<<LEFT>>>\n", "")
            vals = [
                line.partition(":")[2]
                for line in right_sec.strip().splitlines()
            ]
            toks = P.condition_tokens(" ".join(vals))
            ll = left_sec.lower()
            return "Yes" if toks and all(t in ll for t in toks) else "No"
        if task == "sem_dedup_pair":
            # deterministic near-dup judgment: whitespace-token
            # Jaccard of the two documents >= 0.5 (oracle-mirrorable
            # in SQL: list_intersect/list_distinct over str_split)
            a_sec, _, b_sec = content.partition("<<<B>>>\n")
            a_sec = a_sec.replace("<<<A>>>\n", "")
            ta = set(a_sec.lower().split())
            tb = set(b_sec.lower().split())
            union = ta | tb
            j = (len(ta & tb) / len(union)) if union else 1.0
            return "Yes" if j >= 0.5 else "No"
        if task == "sem_map":
            instr = fields.get("instruction", "")
            vocab = P.vocab_of(instr)
            if vocab:
                for v in vocab:
                    if v.lower() in lc:
                        return v
                return "NA"
            for t in P.condition_tokens(instr):
                if t in lc:
                    return t
            return "NA"
        if task == "sem_group_induce":
            vocab = P.vocab_of(fields.get("instruction", ""))
            tags = vocab + ["other"] if vocab else ["other"]
            return json.dumps(tags)
        if task == "sem_group_classify":
            tags = json.loads(fields.get("tags", "[]"))
            for t in tags[:-1]:
                if str(t).lower() in lc:
                    return str(t)
            return str(tags[-1]) if tags else "other"
        if task == "sem_reduce":
            vals = json.loads(content)
            return "; ".join(sorted(str(v) for v in vals))
        if task == "sem_score":
            toks = P.condition_tokens(fields.get("query", ""))
            return str(sum(_count_occurrences(lc, t) for t in toks))
        if task == "sem_topk_pair":
            toks = P.condition_tokens(fields.get("query", ""))
            _, _, rest = prompt.partition("<<<A>>>\n")
            a, _, b = rest.partition("\n<<<B>>>\n")
            sa = sum(_count_occurrences(a.lower(), t) for t in toks)
            sb = sum(_count_occurrences(b.lower(), t) for t in toks)
            return "A" if sa >= sb else "B"
        if task == "filter_enum":
            toks = P.condition_tokens(fields.get("condition", ""))
            vals = json.loads(content)
            keep = [v for v in vals if any(t in str(v).lower() for t in toks)]
            return json.dumps(keep)
        if task == "dice_strategy":
            return json.dumps(
                {
                    "thought": "stub proposes all strategies",
                    "field": fields.get("field", ""),
                    "strategy": [
                        "pattern_extraction", "enumerable", "compare_str_or_num"
                    ],
                }
            )
        if task == "simple_filter_check":
            q = fields.get("query", "")
            has = bool(
                re.search(r"(>=|<=|==|!=|>|<)\s*-?\d", q)
                or re.search(
                    r"\b(contains?|equals?|starts with|ends with|greater than|"
                    r"less than)\b", q, flags=re.I,
                )
            )
            return "YES" if has else "NO"
        if task == "direct_filter_plan":
            q = fields.get("query", "")
            conds = [
                {"column": None, "operator": m.group(1),
                 "threshold": float(m.group(2))}
                for m in re.finditer(r"(>=|<=|==|!=|>|<)\s*(-?\d+(?:\.\d+)?)", q)
            ]
            if conds:
                ops = [{"id": 1, "operator_name": "num_filter",
                        "parameters": {"conditions": conds, "logic": "and"}}]
            else:
                ops = [{"id": 1, "operator_name": "keyword_filter",
                        "parameters": {"keywords": P.condition_tokens(q),
                                       "logic": "or", "relation": "contains"}}]
            return json.dumps({"operations": ops, "logic": [1]})
        if task == "keyword_expansion":
            return json.dumps(P.condition_tokens(fields.get("query", "")))
        if task == "field_pruning":
            q = fields.get("query", "").lower()
            cols = json.loads(content)
            hit = [c for c in cols if c.lower() in q]
            return json.dumps(hit if hit else cols)
        if task == "self_reduce":
            d = fields.get("description", "").lower()
            if any(w in d for w in ("count", "how many", "number of")):
                return json.dumps({"type": "count"})
            agg = next((a for a in ("sum", "avg", "max", "min") if a in d),
                       "sum")
            return json.dumps({"type": "num_reduce", "params": {"agg": agg}})
        if task == "granularity_match":
            target = fields.get("target", "").strip().lower()
            cands = json.loads(content)
            for c in cands:
                if str(c).strip().lower() == target:
                    return json.dumps({"thought": "exact match", "chosen": c})
            return json.dumps({"thought": "no match", "chosen": "None"})
        if task == "topk_intent":
            q = fields.get("query", "")
            cols = json.loads(content)
            m = re.search(
                r"\b(?:top|first)\s*(\d+)\b|\b(\d+)\s+(?:most|highest|largest|"
                r"lowest|smallest)\b", q, flags=re.I,
            )
            if not m and not re.search(
                r"\b(most|highest|largest|lowest|smallest|top)\b", q, flags=re.I
            ):
                return json.dumps({"topk_type": "not applicable"})
            k = int(next((g for g in (m.groups() if m else ()) if g), 1))
            field = next((c for c in cols if c.lower() in q.lower()), None)
            if field is None:
                return json.dumps({"topk_type": "not applicable"})
            order = (
                "asc"
                if re.search(r"\b(lowest|smallest|least)\b", q, flags=re.I)
                else "desc"
            )
            numeric_hint = any(
                h in field.lower()
                for h in ("price", "count", "value", "score", "total",
                          "quantity", "chars", "size", "num", "key")
            )
            return json.dumps(
                {
                    "topk_type": "num" if numeric_hint else "sem",
                    "sort_field": field,
                    "sort_order": order,
                    "top_k": k,
                    "sort_basis": q,
                }
            )
        if task == "decompose_query":
            q = fields.get("query", "")
            # stub convention: " then " separates selection from
            # structural analysis
            if " then " in q:
                f_part, _, a_part = q.partition(" then ")
                return json.dumps(
                    {"filter_query": f_part.strip(),
                     "analysis_query": a_part.strip()}
                )
            return json.dumps({"filter_query": q.strip(), "analysis_query": ""})
        if task == "filter_plan":
            hist = fields.get("history", "").strip()
            q = fields.get("query", "").strip()
            cols = json.loads(content)
            delta = q
            if hist and hist.lower() != "all data" and q.lower().startswith(
                hist.lower()
            ):
                delta = q[len(hist):].lstrip(" ;,").strip() or q
            ops = []
            for i, clause in enumerate(
                [c.strip() for c in re.split(r"\band\b", delta) if c.strip()],
                start=1,
            ):
                m = re.match(r"(\w+)\s*(>=|<=|==|!=|>|<)", clause)
                if m and m.group(1) in cols:
                    ops.append({"id": i, "agent": "dice",
                                "field": m.group(1), "instruction": clause})
                else:
                    named = next(
                        (c for c in cols if re.search(
                            rf"\b{re.escape(c.lower())}\b", clause.lower())),
                        None,
                    )
                    if named and re.search(
                        r"(>=|<=|==|!=|>|<)\s*-?\d", clause
                    ):
                        ops.append({"id": i, "agent": "dice", "field": named,
                                    "instruction": clause})
                    else:
                        ops.append({"id": i, "agent": "slice", "field": None,
                                    "instruction": clause})
            if not ops:
                ops = [{"id": 1, "agent": "slice", "field": None,
                        "instruction": delta}]
            return json.dumps(
                {"operations": ops, "logic": [op["id"] for op in ops]}
            )
        if task == "react_step":
            q = fields.get("query", "")
            history = content.strip()
            if history:
                # minimal-change principle: one structural action max
                return json.dumps(
                    {"thought": "structure sufficient", "action": None}
                )
            m = re.search(r"group\s+(\w+)\s+into\s+(\w+)", q, flags=re.I)
            if m:
                analyze = []
                if re.search(r"\bcount\b", q, flags=re.I):
                    analyze.append({"dimension": "self",
                                    "reduce_target": "count the rows"})
                return json.dumps({
                    "thought": f"roll up {m.group(1)}",
                    "action": {"type": "roll_up",
                               "params": {"dimension": m.group(1),
                                          "target_granularity": m.group(2),
                                          "analyze_dimension": analyze}},
                })
            m = re.search(r"extract\s+(?:the\s+)?(\w+)", q, flags=re.I)
            if m:
                return json.dumps({
                    "thought": f"drill down to {m.group(1)}",
                    "action": {"type": "drill_down",
                               "params": {"dimension_name": m.group(1),
                                          "desc": q,
                                          "related_coarser_dimension": None}},
                })
            return json.dumps({"thought": "nothing to do", "action": None})
        if task == "relation_classify":
            cur_q = fields.get("current", "").lower()
            hist_q = fields.get("historical", "").lower()
            # disjunction/negation invert or break the token-superset
            # ⇒ stricter heuristic; when they appear asymmetrically,
            # claim nothing (no_relation = re-filter from the root —
            # always correct, just less reuse)
            markers = (" or ", " not ", "without", "except", "exclude")
            if any((m in cur_q) != (m in hist_q) for m in markers):
                return json.dumps(
                    {"reason": "asymmetric or/negation", "relation": "no_relation"}
                )
            cs = set(P.condition_tokens(cur_q))
            hs = set(P.condition_tokens(hist_q))
            if cs == hs:
                rel = "equal"
            elif hs and hs < cs:
                # current adds conjunctive tokens → stricter
                rel = "subset"
            elif cs and cs < hs:
                rel = "contain"
            elif cs & hs:
                rel = "intersect"
            else:
                rel = "no_relation"
            return json.dumps({"reason": "token containment", "relation": rel})
        if task == "filter_pattern":
            template = fields.get("template", "")
            regex = re.escape(template).replace(re.escape("<*>"), r"(\d+)")
            conds = []
            for m in re.finditer(
                r"(>=|<=|==|!=|>|<)\s*(-?\d+(?:\.\d+)?)", fields.get("condition", "")
            ):
                conds.append(
                    {
                        "group": len(conds) + 1,
                        "operator": m.group(1),
                        "threshold": float(m.group(2)),
                    }
                )
            return json.dumps({"regex": regex, "conditions": conds, "logic": "and"})
        raise ValueError(f"StubLLM: unknown task {task!r}")


class CachingLLM(BaseLLM):
    """Prompt→response memo cache wrapper (SURVEY.md §4 phys layer)."""

    def __init__(self, inner: LLM):
        self.inner = inner
        self.cache: dict[str, str] = {}
        self.hits = 0
        self.misses = 0

    def predict(self, prompt: str) -> str:
        if prompt in self.cache:
            self.hits += 1
            return self.cache[prompt]
        self.misses += 1
        out = self.inner.predict(prompt)
        self.cache[prompt] = out
        return out

    def predict_batch(self, batch: list[str]) -> list[str]:
        missing = [p for p in batch if p not in self.cache]
        if missing:
            # de-dup within the batch before hitting the backend
            uniq = list(dict.fromkeys(missing))
            for p, r in zip(uniq, self.inner.predict_batch(uniq)):
                self.cache[p] = r
            self.misses += len(uniq)
        self.hits += len(batch) - len(missing)
        return [self.cache[p] for p in batch]


class LLMBudgetExceeded(RuntimeError):
    """Raised by :class:`BudgetLLM` when the call cap is hit."""


class BudgetLLM(BaseLLM):
    """Hard per-worker-process cap on backend calls.

    The runaway-cost guard: a semantic operator accidentally pointed
    at an unblocked corpus should FAIL, not bill.  At the cap every
    further call raises :class:`LLMBudgetExceeded`, which fails the
    Spark task and thereby the query — a hard stop, by design.

    Scope semantics (be explicit when sizing): the counter lives in
    ONE UDF evaluation context — for file-backed scans (the
    deployment shape) that is one factory per worker process per
    task, so a query can spend up to ``N_tasks × max_calls`` before
    every task trips; set ``max_calls ≈ intended_total /
    expected_tasks``.  (Local-relation test frames arriving as many
    tiny Arrow chunks re-instantiate the factory per chunk —
    verified empirically; don't benchmark budget/cache behavior on
    createDataFrame inputs.)  A cluster-exact global budget would
    need a coordination point on the hot path (see the rate-limiter
    note in SCALE.md — same reasoning); the per-context cap bounds
    the blast radius without one.  Place INSIDE a CachingLLM so
    cache hits stay free.
    """

    def __init__(self, inner: LLM, max_calls: int):
        if max_calls < 1:
            raise ValueError("max_calls must be >= 1")
        self.inner = inner
        self.max_calls = int(max_calls)
        self.calls = 0

    def _charge(self, n: int) -> None:
        if self.calls + n > self.max_calls:
            raise LLMBudgetExceeded(
                f"LLM call budget exceeded: {self.calls} spent, "
                f"{n} requested, cap {self.max_calls} (per worker "
                f"process). Raise max_calls, prescreen/block the "
                f"input, or add caching."
            )
        self.calls += n

    def predict(self, prompt: str) -> str:
        self._charge(1)
        return self.inner.predict(prompt)

    def predict_batch(self, batch: list[str]) -> list[str]:
        self._charge(len(batch))
        return self.inner.predict_batch(batch)


class ConcurrentLLM(BaseLLM):
    """Fan ``predict_batch`` out across a thread pool.

    The deterministic stub loops a batch sequentially — fine for
    microsecond rules, catastrophic for a real inference endpoint
    whose per-prompt latency is network-bound.  This wrapper delivers
    the SURVEY §4 physical-layer promise: an Arrow batch of prompts
    runs ``min(len(batch), max_workers)`` calls concurrently while
    preserving batch order.

    ``inner.predict`` must be reentrant (true of HTTP clients and the
    stateless stub).  The pool is created lazily and dropped on
    pickle, so factories can close over a ConcurrentLLM-producing
    recipe and each executor worker builds its own pool.

    Composition order: ``CachingLLM(ConcurrentLLM(backend))`` — the
    cache dedups first, the pool fans out only the misses.
    """

    def __init__(self, inner: LLM, max_workers: int = 8):
        self.inner = inner
        self.max_workers = max_workers
        self._pool = None

    def _ensure_pool(self):
        if self._pool is None:
            from concurrent.futures import ThreadPoolExecutor

            self._pool = ThreadPoolExecutor(max_workers=self.max_workers)
        return self._pool

    def __getstate__(self):
        state = dict(self.__dict__)
        state["_pool"] = None
        return state

    def predict(self, prompt: str) -> str:
        return self.inner.predict(prompt)

    def predict_batch(self, batch: list[str]) -> list[str]:
        if len(batch) <= 1:
            return [self.inner.predict(p) for p in batch]
        pool = self._ensure_pool()
        return list(pool.map(self.inner.predict, batch))


class CountingLLM(BaseLLM):
    """Report every prompt sent through this layer to a sink.

    The sink is anything with ``add(n)`` — in distributed use a Spark
    accumulator, the one mechanism by which counts from executor-side
    Arrow UDF workers flow back to the driver (counters on the driver
    object would never see them).  Place it *outside* a CachingLLM to
    count requests, *inside* to count actual backend calls (cache
    misses) — the number a semantic-OLAP user tunes against.

    Known limitation (inherent to PySpark, verified empirically on
    4.1): Python-accumulator updates ride the END of each Python
    worker's output stream, so a consumer that stops reading early —
    any plan where a ``limit`` truncates the UDF's output, e.g.
    ``df.withColumn(sem).limit(n)`` or an upstream ``orderBy().
    limit()`` feeding the UDF stage — silently drops them (the calls
    HAPPEN; only the report is lost).  Counts are exact for fully-
    consumed shapes: filters, aggregations, plain collects, and a
    single ``orderBy().limit()`` directly over the UDF column.  For
    authoritative accounting under truncating plans use the backend's
    own instance counters (``HttpLLM.usage``) aggregated server-side.
    """

    def __init__(self, inner: LLM, sink):
        self.inner = inner
        self.sink = sink

    def predict(self, prompt: str) -> str:
        self.sink.add(1)
        return self.inner.predict(prompt)

    def predict_batch(self, batch: list[str]) -> list[str]:
        self.sink.add(len(batch))
        return self.inner.predict_batch(batch)


class LLMCostStats:
    """Driver-side view of a tracked factory's accumulators.

    The palimpzest-baseline analog of per-run cost reporting
    (Semantic-OLAP/baselines/palimpzest_agent.py:434-451): total
    requests, actual backend calls, and the cache hit rate.
    Accumulator values update when Spark tasks complete, so read a
    snapshot AFTER materializing the query (count/collect/write).
    """

    def __init__(self, requests, backend_calls):
        self._requests = requests
        self._backend_calls = backend_calls

    @property
    def requests(self) -> int:
        return int(self._requests.value)

    @property
    def backend_calls(self) -> int:
        return int(self._backend_calls.value)

    @property
    def cache_hit_rate(self) -> float:
        r = self.requests
        return 1.0 - self.backend_calls / r if r else 0.0

    def snapshot(self) -> dict:
        return {
            "llm_requests": self.requests,
            "llm_backend_calls": self.backend_calls,
            "cache_hit_rate": round(self.cache_hit_rate, 4),
        }


class _FanoutSink:
    """add(n) to several sinks (uncached client: request = backend call)."""

    def __init__(self, *sinks):
        self.sinks = sinks

    def add(self, n: int) -> None:
        for s in self.sinks:
            s.add(n)


def wrap_cost_tracking(spark, factory: "LLMFactory"):
    """(tracked_factory, LLMCostStats) around any LLM factory.

    If the factory's product is a CachingLLM, backend counting is
    interposed between the cache and the backend so only misses
    count; otherwise every request is a backend call.
    """
    sc = spark.sparkContext
    requests = sc.accumulator(0)
    backend_calls = sc.accumulator(0)

    def tracked() -> LLM:
        llm = factory()
        if isinstance(llm, CachingLLM):
            llm.inner = CountingLLM(llm.inner, backend_calls)
            return CountingLLM(llm, requests)
        return CountingLLM(llm, _FanoutSink(requests, backend_calls))

    return tracked, LLMCostStats(requests, backend_calls)


def default_llm_factory() -> LLM:
    """Picklable factory used when an operator gets no ``llm_factory``."""
    return CachingLLM(StubLLM())


LLMFactory = Callable[[], LLM]
