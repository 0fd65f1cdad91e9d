"""Concrete N4 LLM provider: a generic OpenAI-compatible chat-completions
adapter (the de-facto public API shape OpenRouter/vLLM/llama.cpp/most hosted
gateways all serve).

Behavioral parity with the reference's OpenRouter client
(``/root/reference/core/ai_query_generator.py:128-176``):

- env-keyed API key; when absent the provider is OFF and the engine's
  deterministic cascade handles everything (reference returns None,
  ``:130-131``);
- up to 3 models tried in order, falling through on HTTP error, transport
  error, or empty content (``:140-175``);
- 30 s timeout per attempt, ``max_tokens`` 200, ``temperature`` 0.1
  (``:146-161``);
- a system prompt carrying the live schema and SELECT-only rules
  (``:95-126``), with the response expected to be bare SQL;
- markdown-fence cleanup of the response (``:283-291``) — done here
  defensively and again by the plan validator, which is the actual
  security boundary: whatever the model returns is parsed and checked
  node-by-node before execution (plans/validator.py).

Unlike the reference, the transport is injectable, so the full
LLM -> fence-strip -> plan-validate -> execute path is testable without a
network (tests/test_llm_provider.py drives it through engine.process with
a fake transport).
"""

from __future__ import annotations

import json
import os
import urllib.error
import urllib.request
from dataclasses import dataclass, field
from typing import Callable

from .validator import strip_markdown_fences

#: transport(url, headers, payload, timeout) -> (status_code, response_body)
Transport = Callable[[str, dict, dict, float], tuple[int, str]]

_DEFAULT_MODELS = (
    "meta-llama/llama-3.1-8b-instruct:free",
    "microsoft/phi-3-mini-128k-instruct:free",
    "google/gemma-7b-it:free",
)


def _urllib_transport(url: str, headers: dict, payload: dict, timeout: float) -> tuple[int, str]:
    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode("utf-8"),
        headers={"Content-Type": "application/json", **headers},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return resp.status, resp.read().decode("utf-8")
    except urllib.error.HTTPError as exc:  # non-2xx still carries a body
        return exc.code, exc.read().decode("utf-8", errors="replace")


def build_system_prompt(schema_text: str, table: str = "employees") -> str:
    """SELECT-only NL->SQL instructions with the live schema inlined
    (reference prompt structure ``:95-126``; rules condensed to the ones the
    downstream plan validator actually relies on)."""
    return (
        "You are a SQL query generator. Convert the user's natural-language "
        f"question into ONE SQL SELECT statement over the '{table}' table.\n\n"
        f"{schema_text}\n\n"
        "RULES:\n"
        "1. ONLY SELECT statements - never DDL/DML.\n"
        f"2. Use ONLY the '{table}' table.\n"
        "3. Use LOWER() + LIKE for case-insensitive text matches.\n"
        "4. Handle NULLs explicitly with IS NULL / IS NOT NULL.\n"
        "5. ORDER BY for presentation and LIMIT results (LIMIT 100 or less).\n"
        "Respond with ONLY the SQL query, no explanations or formatting."
    )


@dataclass
class OpenAICompatibleProvider:
    """``LLMProvider`` implementation for any OpenAI-compatible
    ``/chat/completions`` endpoint. Plug into ``DataFabricEngine(llm_provider=...)``.
    """

    api_key: str
    base_url: str = "https://openrouter.ai/api/v1"
    models: tuple[str, ...] = _DEFAULT_MODELS
    timeout_s: float = 30.0
    max_tokens: int = 200
    temperature: float = 0.1
    table: str = "employees"
    transport: Transport = field(default=_urllib_transport)

    def __call__(self, question: str, schema_text: str) -> str | None:
        url = self.base_url.rstrip("/") + "/chat/completions"
        headers = {"Authorization": f"Bearer {self.api_key}"}
        for model in self.models[:3]:
            payload = {
                "model": model,
                "messages": [
                    {"role": "system", "content": build_system_prompt(schema_text, self.table)},
                    {"role": "user", "content": question},
                ],
                "max_tokens": self.max_tokens,
                "temperature": self.temperature,
            }
            try:
                status, body = self.transport(url, headers, payload, self.timeout_s)
                if status != 200:
                    continue
                content = json.loads(body)["choices"][0]["message"]["content"]
            except Exception:  # transport/timeout/shape errors -> next model
                continue
            sql = strip_markdown_fences(content or "")
            if sql:
                return sql
        return None


def from_env(
    key_var: str = "OPENROUTER_API_KEY",
    url_var: str = "LLM_BASE_URL",
    table: str = "employees",
) -> OpenAICompatibleProvider | None:
    """Provider from the environment, or None (= feature off, cascade-only)
    when no key is configured — the reference's default posture (``:130``)."""
    key = os.environ.get(key_var, "").strip()
    if not key:
        return None
    kwargs = {"api_key": key, "table": table}
    base = os.environ.get(url_var, "").strip()
    if base:
        kwargs["base_url"] = base
    return OpenAICompatibleProvider(**kwargs)
