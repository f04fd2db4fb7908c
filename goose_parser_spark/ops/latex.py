"""LaTeX → plain text (arXiv-style academic corpus cleaning).

arXiv source dumps are the standard academic slice of LLM corpora,
and they ship as TeX, not prose. This is the pragmatic cleaning
subset public pipelines implement (pandoc-lite / arxiv-cleaner
territory), not a TeX engine:

- ``%`` comments dropped (``\\%`` escapes respected)
- verbatim-ish and display-only environments removed WITH content
  (equation/align/figure/table/tikzpicture/verbatim/lstlisting...),
  other ``\\begin{x}...\\end{x}`` wrappers removed keeping content
- inline and display math dropped: ``$...$``, ``$$...$$``,
  ``\\(...\\)``, ``\\[...\\]``
- commands resolved by a keep-argument set (sectioning, emphasis,
  title/caption — the argument IS prose), a drop-with-argument set
  (cite/ref/label/includegraphics/usepackage and friends — the
  argument is machinery), and the unknown-command default: drop the
  command token, KEEP its braced argument (prose survives markup
  the cleaner has never heard of)
- ``\\\\`` → newline, ``~`` → space, the special-character escapes
  (``\\% \\& \\_ \\$ \\# \\{ \\}``) unescaped, grouping braces
  dropped, whitespace collapsed

Every pass is a linear scan or a non-backtracking regex; brace
arguments are matched by depth counting (nesting is not regular).
The Spark op adds per-document isolation; the driver oracle is
by-construction (same posture as wikitext_clean).
"""
from __future__ import annotations

import re
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

__all__ = ["latex_to_text", "latex_clean"]

# environments whose CONTENT is not prose
_DROP_ENVS = frozenset((
    "equation", "equation*", "align", "align*", "eqnarray",
    "eqnarray*", "gather", "gather*", "math", "displaymath",
    "figure", "figure*", "table", "table*", "tabular", "tabular*",
    "tikzpicture", "verbatim", "lstlisting", "algorithm",
    "algorithmic", "thebibliography",
))
# commands whose single braced argument is prose: keep the argument
_KEEP_ARG = frozenset((
    "section", "section*", "subsection", "subsection*",
    "subsubsection", "subsubsection*", "paragraph", "chapter",
    "title", "caption", "emph", "textbf", "textit", "texttt",
    "textsc", "underline", "mbox", "textrm", "author", "abstract",
))
# commands whose argument is machinery: drop command AND argument
_DROP_ARG = frozenset((
    "cite", "citep", "citet", "ref", "eqref", "autoref", "label",
    "includegraphics", "usepackage", "documentclass", "bibliography",
    "bibliographystyle", "input", "include", "vspace", "hspace",
    "footnotemark", "url", "href", "pageref", "setlength",
    "newcommand", "renewcommand", "begin", "end",
))

_COMMENT = re.compile(r"(?<!\\)%[^\n]*")
_CMD = re.compile(r"\\([A-Za-z]+\*?)")


def _match_brace(s: str, i: int) -> int:
    """``i`` points at ``{``; return the index AFTER the matching
    ``}`` (depth-counted; unclosed → end of string)."""
    depth = 0
    n = len(s)
    while i < n:
        c = s[i]
        if c == "\\":
            i += 2
            continue
        if c == "{":
            depth += 1
        elif c == "}":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    return n


def _strip_math(s: str) -> str:
    out: list[str] = []
    i = 0
    n = len(s)
    while i < n:
        c = s[i]
        if c == "\\" and i + 1 < n:
            nxt = s[i + 1]
            if nxt == "(":
                j = s.find("\\)", i + 2)
                i = n if j < 0 else j + 2
                continue
            if nxt == "[":
                j = s.find("\\]", i + 2)
                i = n if j < 0 else j + 2
                continue
            out.append(s[i:i + 2])
            i += 2
            continue
        if c == "$":
            dd = s.startswith("$$", i)
            close = "$$" if dd else "$"
            j = s.find(close, i + len(close))
            i = n if j < 0 else j + len(close)
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _drop_envs(s: str) -> str:
    """Remove drop-environments with their content in ONE
    left-to-right pass (the restart-from-head version copied the
    whole string per removed environment — O(k·n) on equation-heavy
    arXiv sources; code-review finding). A drop-env nested inside
    another drop-env sits inside the skipped span, so the leftmost
    match suffices; an unclosed drop-env drops the rest (broken
    markup)."""
    pat = re.compile(r"\\begin\{([A-Za-z*]+)\}")
    out: list[str] = []
    i = 0
    n = len(s)
    while i < n:
        m = pat.search(s, i)
        if m is None:
            out.append(s[i:])
            break
        if m.group(1) in _DROP_ENVS:
            out.append(s[i:m.start()])
            closer = f"\\end{{{m.group(1)}}}"
            end = s.find(closer, m.end())
            i = n if end < 0 else end + len(closer)
        else:
            out.append(s[i:m.end()])
            i = m.end()
    return "".join(out)


def latex_to_text(s: str) -> str:
    """LaTeX → plain text (scope in the module docstring)."""
    s = _COMMENT.sub("", s)
    s = _drop_envs(s)
    s = _strip_math(s)
    out: list[str] = []
    i = 0
    n = len(s)
    while i < n:
        c = s[i]
        if c == "\\":
            if s.startswith("\\\\", i):
                out.append("\n")
                i += 2
                continue
            if i + 1 < n and s[i + 1] in "%&_$#{}":
                out.append(s[i + 1])
                i += 2
                continue
            m = _CMD.match(s, i)
            if m is None:
                i += 1
                continue
            name = m.group(1)
            j = m.end()
            while j < n and s[j] in " \t":
                j += 1
            # optional [..] parameter: machinery, drop it
            if j < n and s[j] == "[":
                k = s.find("]", j)
                j = n if k < 0 else k + 1
                while j < n and s[j] in " \t":
                    j += 1
            if j < n and s[j] == "{":
                end = _match_brace(s, j)
                arg = s[j + 1:end - 1]
                if name in _DROP_ARG:
                    i = end
                elif name in _KEEP_ARG:
                    # sectioning titles become their own line
                    if name[0] in "scpt" and name in (
                            "section", "section*", "subsection",
                            "subsection*", "subsubsection",
                            "subsubsection*", "paragraph",
                            "chapter", "title"):
                        out.append("\n")
                        out.append(latex_to_text(arg))
                        out.append("\n")
                    else:
                        out.append(latex_to_text(arg))
                    i = end
                elif name == "footnote":
                    i = end  # footnote bodies are asides: drop
                else:
                    # unknown command: drop the token, keep prose
                    out.append(latex_to_text(arg))
                    i = end
            else:
                i = m.end()  # bare command (\item, \ldots): drop
        elif c == "~":
            out.append(" ")
            i += 1
        elif c in "{}":
            i += 1
        else:
            out.append(c)
            i += 1
    text = "".join(out)
    text = re.sub(r"[ \t]+", " ", text)
    text = re.sub(r" ?\n ?", "\n", text)
    text = re.sub(r"\n{3,}", "\n\n", text)
    return text.strip()


def latex_clean(df: "DataFrame", text_col: str = "tex",
                id_col: str = "doc_id") -> "DataFrame":
    """LaTeX → plain text at corpus scale: map-only per-document string
    work on the map kernel (kernel.map_docs), one row per non-NULL
    input with ``clean_text`` and ``n_math`` (count of dropped inline-
    math spans — a domain signal: heavy-math sources need different
    tokenizer budgets). NULL clean_text on failure (I4)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType, StringType, StructField

    from goose_parser_spark.kernel import map_docs

    fields = [StructField("clean_text", StringType(), True),
              StructField("n_math", IntegerType(), True)]

    def fn(tex):
        n_math = len(re.findall(r"(?<!\\)\$(?:[^$\\]|\\.)+\$", tex))
        return ((latex_to_text(tex), n_math),)

    out = map_docs(df, fn, fields, id_col, text_col, text=True).where(
        F.col("bytes_in").isNotNull())
    return out.select(id_col, "clean_text", "n_math")
