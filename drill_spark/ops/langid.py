"""N-gram-profile language identification (Cavnar & Trenkle 1994).

Reference parity: Drill has no built-in LID, but every serious
training-data curation pipeline gates and mixes BY LANGUAGE (the
fixture `documents.lang` column fakes what this operator computes).
The classic rank-order method — "N-Gram-Based Text Categorization",
Cavnar & Trenkle, SDAIR 1994 — classifies a document by comparing its
top-K character-n-gram frequency profile against fixed per-language
profiles using the OUT-OF-PLACE measure: for each gram in the document
profile, |rank_in_doc - rank_in_language|, with a maximum penalty of K
when the gram is absent from the language profile; the language with
the smallest distance wins.

Design (Spark-first, 100 TB shape):

- The per-language profiles are built ONCE, in pure Python from
  small embedded seed corpora (deterministic — no model download, no
  RNG). L x K entries (~6 x 80), a few KB per worker.
- Classification is a per-row Arrow-batched pandas UDF
  (:func:`_lid_kernel`, cached per worker process): gram counting,
  top-K ranking and the L distance sums run in plain Python over each
  batch — the corpus NEVER shuffles. A 100 TB documents table is one
  scan; the only exchange in a typical "group by predicted language"
  query is over the bounded (lang) key space. The same algorithm as a
  Catalyst higher-order-function expression was measured at ~11 ms
  CPU per ~300-char document against ~0.5 ms in the kernel (array_sort,
  run-length and rank lookups are per-element interpreter calls).
- All arithmetic is integer (counts, ranks, |rank - rank| sums), so a
  SQL oracle replays it bit-exactly — no float tolerance anywhere.

Normalization: lowercase, every non-[a-z] run collapsed to a single
space, trimmed, then padded with one leading and one trailing space
(the CT word-boundary marker). Grams are all substrings of length
1..3; pure-whitespace grams are dropped. A document with no grams
(empty/whitespace/no letters) classifies as 'und'.
"""

from __future__ import annotations

import re
from functools import lru_cache

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NGRAM_MAX = 3
TOP_K = 80

# Seed corpora: a short paragraph of ordinary prose per language,
# written for this module (original text, not quoted from any corpus).
# ~100 words is plenty — CT report >90% accuracy with 400-gram
# profiles from small samples; what matters is that the CHARACTER
# distributions are natural for each language.
SEED_TEXTS: dict[str, str] = {
    "en": (
        "the quick brown fox jumps over the lazy dog while the rain "
        "keeps falling on the quiet street and the children watch from "
        "the window because they cannot go outside today. there is a "
        "kettle on the stove and the smell of bread fills the kitchen. "
        "when the storm finally passes the whole town comes out to see "
        "the river which has risen almost to the edge of the old stone "
        "bridge. nobody remembers a winter with this much water but the "
        "farmers say it will be good for the fields in spring and that "
        "the harvest should be better than last year."
    ),
    "de": (
        "der schnelle braune fuchs springt ueber den faulen hund "
        "waehrend der regen auf die stille strasse faellt und die "
        "kinder vom fenster aus zusehen weil sie heute nicht nach "
        "draussen gehen koennen. auf dem herd steht ein kessel und der "
        "geruch von frischem brot erfuellt die kueche. als das gewitter "
        "endlich voruebergezogen ist kommt die ganze stadt heraus um "
        "den fluss zu sehen der fast bis zum rand der alten steinernen "
        "bruecke gestiegen ist. niemand erinnert sich an einen winter "
        "mit so viel wasser aber die bauern sagen dass es gut fuer die "
        "felder im fruehjahr sein wird und die ernte besser als im "
        "letzten jahr ausfallen sollte."
    ),
    "fr": (
        "le rapide renard brun saute par dessus le chien paresseux "
        "pendant que la pluie tombe sur la rue tranquille et que les "
        "enfants regardent par la fenetre parce qu ils ne peuvent pas "
        "sortir aujourd hui. il y a une bouilloire sur la cuisiniere et "
        "l odeur du pain remplit la cuisine. quand l orage passe enfin "
        "toute la ville sort pour voir la riviere qui est montee "
        "presque jusqu au bord du vieux pont de pierre. personne ne se "
        "souvient d un hiver avec autant d eau mais les paysans disent "
        "que ce sera bon pour les champs au printemps et que la "
        "recolte devrait etre meilleure que l annee derniere."
    ),
    "es": (
        "el rapido zorro marron salta sobre el perro perezoso mientras "
        "la lluvia cae sobre la calle tranquila y los ninos miran desde "
        "la ventana porque hoy no pueden salir afuera. hay una tetera "
        "en la estufa y el olor del pan llena la cocina. cuando la "
        "tormenta por fin pasa todo el pueblo sale a ver el rio que ha "
        "subido casi hasta el borde del viejo puente de piedra. nadie "
        "recuerda un invierno con tanta agua pero los campesinos dicen "
        "que sera bueno para los campos en primavera y que la cosecha "
        "deberia ser mejor que la del ano pasado."
    ),
    "it": (
        "la rapida volpe marrone salta sopra il cane pigro mentre la "
        "pioggia cade sulla strada tranquilla e i bambini guardano "
        "dalla finestra perche oggi non possono uscire fuori. c e un "
        "bollitore sul fornello e l odore del pane riempie la cucina. "
        "quando il temporale finalmente passa tutto il paese esce a "
        "vedere il fiume che e salito quasi fino al bordo del vecchio "
        "ponte di pietra. nessuno ricorda un inverno con cosi tanta "
        "acqua ma i contadini dicono che sara un bene per i campi in "
        "primavera e che il raccolto dovrebbe essere migliore di "
        "quello dell anno scorso."
    ),
    "pt": (
        "a rapida raposa marrom salta sobre o cachorro preguicoso "
        "enquanto a chuva cai sobre a rua tranquila e as criancas olham "
        "pela janela porque hoje nao podem sair para fora. ha uma "
        "chaleira no fogao e o cheiro do pao enche a cozinha. quando a "
        "tempestade finalmente passa toda a cidade sai para ver o rio "
        "que subiu quase ate a beira da velha ponte de pedra. ninguem "
        "se lembra de um inverno com tanta agua mas os lavradores dizem "
        "que sera bom para os campos na primavera e que a colheita "
        "deve ser melhor do que a do ano passado."
    ),
}

LANGS = sorted(SEED_TEXTS)


def _normalize(text: str) -> str:
    return " " + re.sub(r"[^a-z]+", " ", text.lower()).strip() + " "


def _doc_profile(text: str, k: int = TOP_K,
                 n_max: int = NGRAM_MAX) -> list[str]:
    """Top-k char n-grams of ``text`` by (count desc, gram asc) — the
    plain reference form, written independently of :func:`_lid_kernel`
    (used for profile construction and by :func:`classify_lang_py`)."""
    t = _normalize(text)
    counts: dict[str, int] = {}
    for n in range(1, n_max + 1):
        for i in range(len(t) - n + 1):
            g = t[i:i + n]
            if g.strip():
                counts[g] = counts.get(g, 0) + 1
    return [g for g, _ in
            sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]]


@lru_cache(maxsize=1)
def lang_profiles(k: int = TOP_K) -> dict[str, list[str]]:
    """Fixed per-language rank-ordered gram profiles (deterministic:
    pure function of the embedded seed texts)."""
    return {lang: _doc_profile(txt, k) for lang, txt in SEED_TEXTS.items()}


@lru_cache(maxsize=4)
def _lid_kernel(k: int):
    """Cavnar-Trenkle classifier closure behind :func:`classify_lang`,
    cached per process (a reused Python worker keeps it across batches
    and tasks); each call classifies one document with the same
    integer arithmetic as :func:`classify_lang_py` (counts, (-count,
    gram) ordering, rank-dict lookups with absent-penalty k, (distance,
    lang) min tie-break). Returns (distance|None, lang)."""
    from collections import Counter

    profs = {lang: {g: i for i, g in enumerate(lang_profiles(k)[lang])}
             for lang in LANGS}
    pat = re.compile(r"[^a-z]+")

    def one(text):
        if text is None:
            return None, "und"
        t = " " + pat.sub(" ", text.lower()).strip() + " "
        counts: Counter = Counter()
        for n in range(1, NGRAM_MAX + 1):
            counts.update(t[i:i + n] for i in range(len(t) - n + 1))
        items = [(g, c) for g, c in counts.items() if g.strip()]
        if not items:
            return None, "und"
        items.sort(key=lambda kv: (-kv[1], kv[0]))
        doc = items[:k]
        best = min(
            (sum(abs(pr.get(g, k) - i) for i, (g, _) in enumerate(doc)),
             lang)
            for lang, pr in profs.items())
        return best[0], best[1]

    return one


def classify_lang(df: DataFrame, text_col: str = "text",
                  out_col: str = "pred_lang", k: int = TOP_K,
                  keep_distance: bool = False) -> DataFrame:
    """Append ``out_col`` with the Cavnar-Trenkle language prediction
    ('und' for documents with no letter grams). ``keep_distance``
    additionally appends ``lang_distance`` (the winning out-of-place
    sum — useful as a confidence gate: large = far from every
    profile; NULL for 'und'). Zero shuffles and no cardinality change:
    one ArrowEvalPython projection over :func:`_lid_kernel`.

    A narrow single-file scan is first fanned out across the cluster's
    slots (ops/pipeline._spread — a no-op for splittable big files and
    for in-memory/post-shuffle frames): classification is the
    CPU-bound step, and a small unsplittable input would otherwise
    serialize it onto one core.

    A consumer that references the prediction from SEVERAL plan
    branches (e.g. a mixture's availability aggregate plus its
    join-back probe) re-runs the UDF once per branch — project columns
    are recomputed per consumer, only exchange outputs are shared. For
    that shape, project the classified frame down to the narrow
    columns the consumer needs and put one repartition behind it (see
    q_lang_mixture): AQE reuses the identical exchange subtree, so the
    classification runs exactly once."""
    from drill_spark.ops.pipeline import _spread

    df = _spread(df)

    @F.pandas_udf("d bigint, l string")
    def _lid(s: pd.Series) -> pd.DataFrame:
        one = _lid_kernel(k)  # cached per worker process
        pairs = [one(t) for t in s]
        return pd.DataFrame({
            "d": pd.array([p[0] for p in pairs], dtype="Int64"),
            "l": [p[1] for p in pairs],
        })

    res = _lid(F.col(text_col))
    out = df.withColumn(out_col, res["l"])
    if keep_distance:
        out = out.withColumn("lang_distance", res["d"])
    return out


def classify_lang_py(text: str, k: int = TOP_K) -> str:
    """Pure-Python replay of :func:`classify_lang` for one document
    (tests compare it against the UDF result row-by-row)."""
    profiles = lang_profiles(k)
    doc = _doc_profile(text, k)
    if not doc:
        return "und"
    best = min(
        (sum(abs((profiles[lang].index(g) if g in profiles[lang] else k)
                 - i) for i, g in enumerate(doc)), lang)
        for lang in LANGS
    )
    return best[1]


def profile_values_sql(k: int = TOP_K) -> str:
    """The fixed profiles as a SQL VALUES list ``(lang, g, pr)`` for
    DuckDB oracles (grams contain only [a-z ], so plain quoting is
    safe)."""
    rows = []
    for lang in LANGS:
        for rank, gram in enumerate(lang_profiles(k)[lang]):
            rows.append(f"('{lang}', '{gram}', {rank})")
    return ", ".join(rows)
