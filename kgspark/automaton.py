"""Multi-pattern matcher for surface-form spotting.

Native replacement for the mention-detection half of the DBpedia Spotlight
service the reference delegates to over HTTP (``R/dbpedia.R:471-485``).
Spotlight's spotter is a lexicon matcher (Mendes et al. 2011 §4.1); we build
the same thing: a :class:`FlatMatcher` over the ``surface_form`` column of
the lexicon (vectorized numpy per-length substring probes, compact byte
tables that mmap cheaply, no per-character Python loop), applied to whole
Arrow batches inside a pandas UDF (see ``kgspark.spot``). Spotting reads
the matcher only from a parquet artifact of the surface forms: each host
compiles it once and every python worker mmaps the compiled tables
(``load_automaton_from_artifact``).
Matches are emitted for *every* word-bounded dictionary occurrence
(including nested and overlapping ones); overlap resolution is a
downstream, relational concern (``kgspark.overlaps``).
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np


class FlatMatcher:
    """Vectorized multi-pattern matcher over numpy codepoint arrays.

    Every word-bounded occurrence of every pattern (nested and overlapping
    included) is found by per-length exact substring probes instead of a
    per-character state machine: patterns are grouped by length L into
    sorted fixed-width byte tables (UTF-32 code units, memcmp order), the
    text becomes one uint32 array, and for each L every candidate start
    position is gathered into a (starts, L) matrix and membership-tested
    against the table with one ``searchsorted`` — no Python-level loop
    over characters.

    Memory is the pattern bytes themselves (4 bytes/char, ~100 MB at 10^6
    forms of ~20 chars), and the build is string sorting + one encode per
    length group (seconds at 10^6 forms).

    Candidate starts and ends are restricted to ASCII word boundaries (the
    spotting contract, mirrored by the DuckDB oracle's ``[0-9A-Za-z]``
    class). ``find_word_bounded_batch`` processes a whole Arrow batch of
    documents as one concatenated array, so the per-batch numpy overhead
    is paid once, not per document.
    """

    __slots__ = ("_tables", "_lengths", "_has_nul")

    # gather-matrix cap: bounds the (starts x L) uint32 scratch to ~128 MB
    _CHUNK = 1 << 19

    def __init__(self, patterns: Iterable[str]):
        pats = sorted(set(p for p in patterns if p))
        self._has_nul = any("\x00" in p for p in pats)
        by_len: dict[int, list[str]] = {}
        for p in pats:
            by_len.setdefault(len(p), []).append(p)
        # per length: (sorted S{4L} table, sorted uint32 array of first chars)
        self._tables: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        for L, ps in by_len.items():
            buf = "".join(ps).encode("utf-32-le", "surrogatepass")
            keys = np.frombuffer(buf, dtype=f"S{4 * L}")
            keys = np.sort(keys)
            firsts = np.unique(
                np.frombuffer(buf, dtype=np.uint32)[:: L]
            )
            self._tables[L] = (keys, firsts)
        self._lengths = sorted(self._tables)

    @classmethod
    def _from_tables(
        cls, tables: dict[int, tuple[np.ndarray, np.ndarray]], has_nul: bool
    ) -> "FlatMatcher":
        self = cls.__new__(cls)
        self._has_nul = has_nul
        self._tables = tables
        self._lengths = sorted(tables)
        return self

    def save_compiled(self, directory: str) -> None:
        """Write the tables as .npy files a sibling worker can mmap."""
        import json
        import os

        os.makedirs(directory, exist_ok=True)
        for L, (keys, firsts) in self._tables.items():
            np.save(os.path.join(directory, f"keys_{L}.npy"), keys)
            np.save(os.path.join(directory, f"firsts_{L}.npy"), firsts)
        with open(os.path.join(directory, "meta.json"), "w") as f:
            json.dump({"lengths": self._lengths, "has_nul": self._has_nul}, f)

    @classmethod
    def load_compiled(cls, directory: str) -> "FlatMatcher":
        """mmap the compiled tables — milliseconds per worker, and the OS
        page cache holds ONE copy of the pattern bytes host-wide."""
        import json
        import os

        with open(os.path.join(directory, "meta.json")) as f:
            meta = json.load(f)
        tables = {
            int(L): (
                np.load(os.path.join(directory, f"keys_{L}.npy"), mmap_mode="r"),
                np.load(os.path.join(directory, f"firsts_{L}.npy"), mmap_mode="r"),
            )
            for L in meta["lengths"]
        }
        return cls._from_tables(tables, bool(meta["has_nul"]))

    @staticmethod
    def _codepoints(text: str) -> np.ndarray:
        return np.frombuffer(
            text.encode("utf-32-le", "surrogatepass"), dtype=np.uint32
        )

    @staticmethod
    def _word_starts(T: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(word-char mask, positions that start a word-bounded match)."""
        word = (
            ((T >= 48) & (T <= 57))
            | ((T >= 65) & (T <= 90))
            | ((T >= 97) & (T <= 122))
        )
        valid = np.empty(len(T), dtype=bool)
        valid[0] = True
        valid[1:] = ~word[:-1]
        return word, np.nonzero(valid)[0]

    def _match_starts(
        self, text: str, T: np.ndarray, starts_all: np.ndarray, word: np.ndarray
    ) -> list[tuple[int, str]]:
        """All (start, pattern) hits whose start is in ``starts_all`` and
        whose end falls on a word boundary."""
        n = len(T)
        hits: list[tuple[int, str]] = []
        for L in self._lengths:
            keys_tab, firsts = self._tables[L]
            starts = starts_all[starts_all + L <= n]
            if starts.size == 0:
                continue
            # first-char prefilter: most positions cannot start any pattern
            idx = np.searchsorted(firsts, T[starts])
            ok = (idx < len(firsts)) & (
                firsts[np.minimum(idx, len(firsts) - 1)] == T[starts]
            )
            starts = starts[ok]
            e = starts + L
            starts = starts[(e == n) | ~word[np.minimum(e, n - 1)]]
            if starts.size == 0:
                continue
            for lo in range(0, starts.size, self._CHUNK):
                chunk = starts[lo : lo + self._CHUNK]
                sub = T[chunk[:, None] + np.arange(L, dtype=chunk.dtype)]
                keys = np.frombuffer(
                    np.ascontiguousarray(sub).tobytes(), dtype=f"S{4 * L}"
                )
                pos = np.searchsorted(keys_tab, keys)
                hit = (pos < len(keys_tab)) & (
                    keys_tab[np.minimum(pos, len(keys_tab) - 1)] == keys
                )
                for s in chunk[hit]:
                    s = int(s)
                    hits.append((s, text[s : s + L]))
        return hits

    def find_word_bounded(self, text: str) -> list[tuple[int, str]]:
        """All matches that start and end on an ASCII word boundary, as
        0-based ``(start0, surface_form)`` sorted by ``(start0, len)``."""
        T = self._codepoints(text)
        if len(T) == 0 or not self._lengths:
            return []
        word, starts = self._word_starts(T)
        hits = self._match_starts(text, T, starts, word)
        hits.sort(key=lambda h: (h[0], len(h[1]), h[1]))
        return hits

    def find_word_bounded_batch(
        self, texts: Iterable[str | None]
    ) -> list[list[tuple[int, str]]]:
        """Word-bounded hits for a batch of documents in one numpy pass.

        Documents are joined with a NUL separator (a non-word char no
        pattern contains, so no match can cross a boundary) and offsets
        are rebased per document afterwards."""
        texts = list(texts)
        if self._has_nul or not self._lengths:
            # NUL inside a pattern breaks the separator trick — per-doc path
            return [
                self.find_word_bounded(t) if t else [] for t in texts
            ]
        parts = [t or "" for t in texts]
        big = "\x00".join(parts)
        T = self._codepoints(big)
        n = len(T)
        out: list[list[tuple[int, str]]] = [[] for _ in texts]
        if n == 0:
            return out
        # doc k occupies [doc_off[k], doc_off[k] + len(parts[k]))
        doc_off = np.zeros(len(parts), dtype=np.int64)
        if len(parts) > 1:
            np.cumsum(
                [len(p) + 1 for p in parts[:-1]], out=doc_off[1:]
            )
        word, starts = self._word_starts(T)
        hits = self._match_starts(big, T, starts, word)
        for s, pat in hits:
            k = int(np.searchsorted(doc_off, s, side="right")) - 1
            out[k].append((s - int(doc_off[k]), pat))
        for lst in out:
            lst.sort(key=lambda h: (h[0], len(h[1]), h[1]))
        return out


# ---------------------------------------------------------------------------
# The artifact: build the matcher ON THE EXECUTORS from a parquet artifact
# of surface forms, once per host, instead of collect()-ing the lexicon to
# the Spark driver and shipping a pickled matcher through a broadcast. At a
# real Spotlight lexicon (10^6-10^7 forms) the artifact is ~100 MB of
# compressed parquet; the first worker compiles the flat tables (seconds
# at 10^6 forms) and publishes them for its siblings to mmap.
#
# The per-process memo maps an artifact path to (its part-file names, the
# matcher). Spark names every written part file with a fresh UUID, so a
# rewrite of the same path (run_pipeline rewrites
# <checkpoint_root>/_lexicon_forms on every run) changes the names and the
# reused python workers rebuild instead of serving the old lexicon.
_PROCESS_CACHE: dict[str, tuple[tuple[str, ...], FlatMatcher]] = {}


def write_lexicon_artifact(lexicon, path: str) -> str:
    """Distributed write of the distinct surface forms (no driver collect).
    ``path`` must be reachable by every executor (shared FS on a cluster;
    any local dir under local[*])."""
    lexicon.select("surface_form").distinct().write.mode("overwrite").parquet(path)
    return path


def _artifact_parts(path: str) -> tuple[str, ...]:
    import os

    return tuple(sorted(
        f for f in os.listdir(path)
        if f.startswith("part-") and f.endswith(".parquet")
    ))


def _read_artifact_forms(path: str, parts: tuple[str, ...]) -> list[str]:
    import os

    import pyarrow.parquet as pq

    forms: list[str] = []
    for f in parts:
        forms.extend(pq.read_table(os.path.join(path, f), columns=["surface_form"])
                     .column(0).to_pylist())
    return forms


def load_automaton_from_artifact(path: str):
    """Executor-side automaton with a build-once-per-HOST protocol.

    The first worker to need the artifact compiles the flat tables and
    publishes them as mmap-able .npy files next to the parquet (atomic
    tempdir + rename under a lock file); every other worker — including
    cold ones joining the pool later — loads the compiled form in
    milliseconds, and the OS page cache keeps ONE host-wide copy of the
    pattern bytes instead of a private heap per process. Falls back to a
    private in-process build whenever the shared directory is not
    writable or the lock is contended past a short wait (correctness
    never depends on the cache). Per-process memo on top, keyed by the
    artifact's part-file names so a rewritten artifact is rebuilt."""
    parts = _artifact_parts(path)
    cached = _PROCESS_CACHE.get(path)
    if cached is not None and cached[0] == parts:
        return cached[1]

    import os
    import tempfile
    import time

    compiled = os.path.join(path, "_flat_compiled")
    marker = os.path.join(compiled, "meta.json")

    def _try_load():
        try:
            if os.path.exists(marker):
                return FlatMatcher.load_compiled(compiled)
        except Exception:
            return None
        return None

    auto = _try_load()
    if auto is None:
        lock_fd = None
        try:
            import fcntl

            lock_fd = os.open(os.path.join(path, "_flat_compiled.lock"),
                              os.O_CREAT | os.O_RDWR)
            got = False
            # bounded wait: either we win the build lock, or the winner
            # publishes the marker while we poll
            for _ in range(600):
                try:
                    fcntl.lockf(lock_fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    got = True
                    break
                except OSError:
                    auto = _try_load()
                    if auto is not None:
                        break
                    time.sleep(0.05)
            if auto is None and got:
                auto = _try_load()  # published while we waited on the lock
                if auto is None:
                    built = FlatMatcher(_read_artifact_forms(path, parts))
                    try:
                        tmp = tempfile.mkdtemp(prefix="_flat_tmp_", dir=path)
                        built.save_compiled(tmp)
                        os.rename(tmp, compiled)
                    except OSError:
                        pass
                    auto = built
        except Exception:
            auto = None
        finally:
            if lock_fd is not None:
                try:
                    os.close(lock_fd)  # releases the lock
                except OSError:
                    pass
    if auto is None:
        auto = FlatMatcher(_read_artifact_forms(path, parts))
    _PROCESS_CACHE[path] = (parts, auto)
    return auto
