"""Seeded benchmark corpora and their oracle labels.

The generator keeps the fixture mechanics of ``spardaqus_spark.fixtures``
(the per-row strata mix, the +5% exact-duplicate rows copied from clean
rows, the mega-repo skew) but numbers rows from an offset derived from the
seed, so every seed yields a disjoint corpus of the same shape. Knobs are added:
``mega_share`` / ``n_mega`` (the share of base rows owned by the mega-repos,
and how many there are), ``n_repos`` (how many other repos share the rest)
and ``part_rows`` (rows per parquet part, so a corpus can be laid out as
many small parts for the streaming source).

The per-row content comes from the fixture module's own helpers, so a
change to them changes the benchmark's inputs too.

Corpora and oracle labels are cached under ``.perfbench_cache/`` in the
checkout, keyed by seed and parameters, so generation and the single-
process oracle never run inside a timed region or inside ``setup_s``.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass
from pathlib import Path

import pandas as pd

INPUT_COLS = ["repo", "path", "commit", "lang", "content"]
KEY = ["repo", "path", "commit"]
ORACLE_COLS = KEY + ["keep", "rule_keep", "dup_loser", "scrubbed_sha256"]
ID_STRIDE = 10_000_000  # row ids of seed s live in [s*ID_STRIDE, (s+1)*ID_STRIDE)


@dataclass(frozen=True)
class CorpusSpec:
    n: int  # base rows; ~n/20 exact-duplicate rows are added on top
    mega_share: float = 0.3
    n_mega: int = 2
    n_repos: int = 400  # the other repos; 400 as in the fixtures
    part_rows: int = 1000

    def key(self, seed: int) -> str:
        return (
            f"s{seed}_n{self.n}_m{self.mega_share:g}x{self.n_mega}"
            f"_r{self.n_repos}_p{self.part_rows}"
        )

    def repo(self, v: int) -> str:
        j = v % self.n_repos
        return f"org{j % 50}/repo{j}"


def generate(spec: CorpusSpec, seed: int) -> pd.DataFrame:
    """Corpus rows (INPUT_COLS) for ``seed``; deterministic in (spec, seed)."""
    from spardaqus_spark import fixtures as fx
    from spardaqus_spark.kernels import seeds

    if seed < 0:
        raise ValueError("seed must be >= 0")
    base = seed * ID_STRIDE
    mega_cut = int(round(spec.mega_share * 1000))
    rows = []
    clean: list[tuple[str, str]] = []
    for k in range(spec.n):
        i = base + k
        r = fx._ints(i, "row", 6)
        stratum = fx._stratum(i)
        if r[0] % 1000 < mega_cut:
            repo = f"mega/repo{r[0] % spec.n_mega}"
        else:
            repo = spec.repo(r[1])
        ext = fx.EXTS[r[2] % len(fx.EXTS)]
        claimed = seeds.LANGS[r[4] % len(seeds.LANGS)]
        content_lang = (
            "zh" if stratum == "wrong_lang" else seeds.ALLOWED_LANGS[r[5] % 4]
        )
        content = fx._gen_content(i, ext, content_lang, stratum)
        rows.append((repo, f"src/dir{r[3] % 20}/file{i}.{ext}", _commit(i),
                     claimed, content))
        if stratum == "clean":
            clean.append((content, claimed))
    for j in range(spec.n // 20 if clean else 0):
        i = base + spec.n + j
        r = fx._ints(i, "dup", 4)
        content, lang = clean[r[0] % len(clean)]
        ext = fx.EXTS[r[3] % len(fx.EXTS)]
        rows.append((spec.repo(r[1]),
                     f"src/dir{r[2] % 20}/file{i}.{ext}", _commit(i), lang,
                     content))
    return pd.DataFrame(rows, columns=INPUT_COLS)


def _commit(i: int) -> str:
    return hashlib.sha256(f"perfbench:commit:{i}".encode()).hexdigest()[:40]


def oracle_labels(pdf: pd.DataFrame, dedup: bool = True) -> pd.DataFrame:
    """Oracle verdict per row: ORACLE_COLS. With ``dedup=False`` the exact-
    dedup step is left out (the streaming path has no cross-batch dedup), so
    ``keep`` is the rule verdict alone and kept content is scrubbed as such."""
    from spardaqus_spark import oracle
    from spardaqus_spark.config import default_config
    from spardaqus_spark.rules import apply_rules_pandas

    cfg = default_config()
    g = oracle.run(pdf, cfg)
    g["rule_keep"] = apply_rules_pandas(cfg.rules, g, cfg.verdict)[0].to_numpy()
    if not dedup:
        from spardaqus_spark.kernels import scrub

        # rule verdict is independent of dedup (rules read row-local
        # metrics only): a dup loser with rule_keep is kept and scrubbed
        g["keep"] = g["rule_keep"]
        redo = g["keep"] & g["dup_loser"]
        if redo.any():
            s = scrub.scrub_series(g.loc[redo, "content"],
                                   scrub.load_lexicon(cfg.lexicon_path))
            g.loc[redo, "scrubbed_sha256"] = oracle.sha256_hex(s).to_numpy()
    return g[ORACLE_COLS].reset_index(drop=True)


class Cache:
    """Generate-once store under ``root``: parquet parts + oracle labels."""

    def __init__(self, root: Path):
        self.root = root

    def corpus(self, spec: CorpusSpec, seed: int) -> tuple[Path, pd.DataFrame]:
        """-> (directory of parquet parts, the corpus as pandas)."""
        d = self.root / "corpus" / spec.key(seed)
        done = d / "_DONE"
        if not done.exists():
            pdf = generate(spec, seed)
            d.mkdir(parents=True, exist_ok=True)
            for old in d.glob("part-*.parquet"):
                old.unlink()
            for p, lo in enumerate(range(0, len(pdf), spec.part_rows)):
                pdf.iloc[lo : lo + spec.part_rows].to_parquet(
                    d / f"part-{p:05d}.parquet", index=False
                )
            done.write_text(json.dumps({"seed": seed, **asdict(spec)}))
        return d, pd.read_parquet(d, columns=INPUT_COLS)

    def oracle(self, spec: CorpusSpec, seed: int, pdf: pd.DataFrame,
               dedup: bool = True) -> pd.DataFrame:
        f = self.root / "oracle" / f"{spec.key(seed)}_d{int(dedup)}.parquet"
        if not f.exists():
            f.parent.mkdir(parents=True, exist_ok=True)
            tmp = f.with_suffix(f".tmp{os.getpid()}")
            oracle_labels(pdf, dedup).to_parquet(tmp, index=False)
            os.replace(tmp, f)
        return pd.read_parquet(f)
