"""Seeded synthetic inputs for the ``dfs_stream`` workload.

Two files, both a pure function of ``seed``:

- a text corpus of Zipf-weighted words whose first characters span a-z
  and 0-9 (so the reference's first-byte partitioner spreads keys over
  every reducer), with mixed case, punctuation-only tokens that strip to
  '', a few non-ASCII words and empty lines;
- an access log in ``log_analyzer``'s token layout: ``date time crawler
  url`` (crawler at token 2, URL at token 3), with http/https/bare URLs,
  1-3 dot hosts, ``ip:port`` hosts, paths, ``?query`` and ``#fragment``
  suffixes, and a few short lines the plugin drops.

Sampling draws uniform numbers in bulk and maps them through precomputed
cumulative weights with ``searchsorted``; per-draw weighted choice is
what makes a naive generator take minutes for tens of MB.
"""

from __future__ import annotations

import numpy as np

_FIRST = "abcdefghijklmnopqrstuvwxyz0123456789"
_REST = "abcdefghijklmnopqrstuvwxyz"
_NON_ASCII = ["café", "naïve", "émigré", "über", "straße", "ñandú", "øre"]
_PUNCT = ["--", "...", "!", "(", ")", "&"]
_CRAWLERS = [
    "googlebot", "bingbot", "yandexbot", "baiduspider", "duckduckbot",
    "slurp", "facebot", "ia_archiver", "applebot", "petalbot",
    "semrushbot", "ahrefsbot", "mj12bot", "dotbot", "seznambot",
    "exabot", "sogou", "rogerbot", "gigabot", "msnbot",
]
_TLDS = ["com", "org", "net", "io", "de", "co.uk"]


def _zipf_sampler(rng: np.random.Generator, n_items: int, s: float):
    """Return ``draw(k) -> int array`` of Zipf(s)-weighted indices into a
    list of ``n_items``, the rank order shuffled so weight does not follow
    list position."""
    weights = 1.0 / np.arange(1, n_items + 1) ** s
    weights = weights[rng.permutation(n_items)]
    cum = np.cumsum(weights)
    cum /= cum[-1]

    def draw(k: int) -> np.ndarray:
        return np.minimum(np.searchsorted(cum, rng.random(k)), n_items - 1)

    return draw


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(1, 9))
        w = _FIRST[int(rng.integers(len(_FIRST)))] + "".join(
            _REST[i] for i in rng.integers(len(_REST), size=n)
        )
        words.add(w)
    return sorted(words) + _NON_ASCII


def text_corpus(seed: int, n_bytes: int) -> bytes:
    """About ``n_bytes`` of newline-terminated UTF-8 text."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocabulary(rng, 4000)
    draw = _zipf_sampler(rng, len(vocab), 1.07)
    lines: list[str] = []
    size = 0
    while size < n_bytes:
        lens = rng.integers(0, 15, size=2048)
        words = draw(int(lens.sum()))
        style = rng.random(len(words))
        pos = 0
        for n in lens:
            toks = []
            for j in range(pos, pos + int(n)):
                w = vocab[words[j]]
                r = style[j]
                if r < 0.08:
                    w = w.capitalize()
                elif r < 0.12:
                    w += ","
                elif r < 0.14:
                    w = w.upper() + "."
                elif r < 0.15:
                    w = _PUNCT[j % len(_PUNCT)]
                toks.append(w)
            pos += int(n)
            line = " ".join(toks)
            lines.append(line)
            size += len(line.encode()) + 1
    return ("\n".join(lines) + "\n").encode()


def access_log(seed: int, n_bytes: int) -> bytes:
    """About ``n_bytes`` of crawler access-log lines."""
    rng = np.random.default_rng([seed, 2])
    domains = [
        "".join(_REST[i] for i in rng.integers(26, size=int(rng.integers(3, 10))))
        + "." + _TLDS[int(rng.integers(len(_TLDS)))]
        for _ in range(400)
    ]
    draw_dom = _zipf_sampler(rng, len(domains), 1.1)
    draw_crawler = _zipf_sampler(rng, len(_CRAWLERS), 0.9)
    lines: list[str] = []
    size = 0
    while size < n_bytes:
        k = 2048
        dom = draw_dom(k)
        crw = draw_crawler(k)
        r = rng.random((k, 6))
        day = rng.integers(1, 29, size=k)
        sec = rng.integers(0, 86400, size=k)
        for i in range(k):
            if r[i, 0] < 0.01:
                lines.append(f"2024-03-{day[i]:02d} -")  # < 4 tokens
                size += len(lines[-1]) + 1
                continue
            if r[i, 1] < 0.05:
                host = f"10.{dom[i] % 256}.{crw[i]}.{day[i]}:{8000 + dom[i] % 100}"
            else:
                host = domains[dom[i]]
                if r[i, 2] < 0.3:
                    host = "www." + host
                elif r[i, 2] < 0.4:
                    host = f"cdn{day[i] % 4}.static." + host
            scheme = "https://" if r[i, 3] < 0.6 else "http://" if r[i, 3] < 0.9 else ""
            path = f"/p/{sec[i] % 997}" if r[i, 4] < 0.7 else "/"
            if r[i, 5] < 0.1:
                path += f"?q={day[i]}"
            elif r[i, 5] < 0.15:
                path += "#top"
            t = int(sec[i])
            lines.append(
                f"2024-03-{day[i]:02d} {t // 3600:02d}:{t // 60 % 60:02d}:{t % 60:02d}"
                f" {_CRAWLERS[crw[i]]} {scheme}{host}{path}"
            )
            size += len(lines[-1]) + 1
    return ("\n".join(lines) + "\n").encode()
