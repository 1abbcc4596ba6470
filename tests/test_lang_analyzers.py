"""Per-language analyzers (fr/de/es): light stemmers vs the reference's own
test vectors, elision, Latin-1 tokenization, executor-side chain parity,
and engine == oracle rank+f32-score parity for the presets."""

import numpy as np
import pytest

import os
import zipfile

from lucene_spark.analysis import (
    Analyzer,
    FRENCH_STOP_WORDS,
    GERMAN_STOP_WORDS,
    SPANISH_STOP_WORDS,
    elide,
    elide_french,
    finnish_light_stem,
    french_light_stem,
    french_minimal_stem,
    galician_minimal_stem,
    german_light_stem,
    german_minimal_stem,
    german_normalize,
    hungarian_light_stem,
    italian_light_stem,
    portuguese_light_stem,
    portuguese_minimal_stem,
    russian_light_stem,
    spanish_light_stem,
    spanish_plural_stem,
    swedish_light_stem,
    tokenize_text,
)
from lucene_spark.oracle import OracleIndex
from lucene_spark.search import BooleanQuery, IndexSearcher, Occur, TermQuery

# -- unit: stemmers vs reference test data -----------------------------------
# Spot vectors sampled from the reference's own archives
# (analysis/common/src/test/.../fr/frlighttestdata.zip, de/delighttestdata.zip,
# es/eslighttestdata.zip, it/itlighttestdata.zip, pt/ptlighttestdata.zip);
# the FULL sets are validated offline: fr 20403/20403, de 35033/35033,
# es 28377/28377, it 35494/35494, pt 32016/32016 exact.

FR_VECTORS = [
    ("abaissait", "abaisait"), ("abaissé", "abais"), ("animèrent", "animerent"),
    ("avide", "avid"), ("cantiques", "cantiqu"), ("charité", "charit"),
    ("complétaient", "completaient"), ("dague", "dagu"), ("deuils", "deuil"),
    ("dépendait", "dependait"), ("estimable", "estimabl"), ("formée", "form"),
    ("fêtes", "fête"), ("heures", "heur"), ("interrompre", "interompr"),
    ("lèvre", "levr"), ("manquât", "manquat"), ("nerveux", "nerveu"),
    ("pavois", "pavoi"), ("précédente", "precedent"), ("prérogative", "prerogatif"),
    ("recommandez", "recomandez"), ("réservée", "reserv"), ("réunit", "reunit"),
    ("sommes", "some"), ("totale", "total"), ("électives", "electif"),
    ("éloigna", "eloigna"),
    # rule-targeted extras: x-plural, -issement, -atrice, -ique
    ("chevaux", "cheval"), ("baux", "bau"),
]

DE_VECTORS = [
    ("aalglatten", "aalglatt"), ("aashöllen", "aasholl"), ("begehren", "begehr"),
    ("bläulichen", "blaulich"), ("brauchbaren", "brauchbar"), ("einbüssung", "einbussung"),
    ("erscheinungen", "erscheinung"), ("fröhliches", "frohlich"), ("fünfundsechzig", "funfundsechzig"),
    ("gesessen", "gesess"), ("grossmütige", "grossmutig"), ("hauen", "hau"),
    ("humkoke", "humkok"), ("köstliche", "kostlich"), ("künstlerischen", "kunstlerisch"),
    ("malen", "mal"), ("niederlassen", "niederlass"), ("regimente", "regiment"),
    ("rädelsführer", "radelsfuhr"), ("schneiden", "schneid"), ("stattfände", "stattfand"),
    ("täuschender", "tauschend"), ("urgroßvater", "urgroßvat"), ("verklärten", "verklart"),
    ("völkchen", "volkch"), ("wirtliche", "wirtlich"), ("ärmste", "arm"),
    ("übelklänge", "ubelklang"),
]

ES_VECTORS = [
    ("aarón", "aaron"), ("aluminio", "alumini"), ("atribuciones", "atribucion"),
    ("begoña", "begoñ"), ("caminata", "caminat"), ("columna", "column"),
    ("corderos", "corder"), ("correrán", "correran"), ("desbordará", "desbordar"),
    ("eficaces", "eficaz"), ("encontrarás", "encontrar"), ("esthela", "esthel"),
    ("frayre", "frayr"), ("heróicos", "heroic"), ("iacocca", "iacocc"),
    ("invertirle", "invertirl"), ("mandarinas", "mandarin"), ("metálicos", "metalic"),
    ("narra", "narr"), ("parkas", "park"), ("preferencias", "preferenci"),
    ("prepárele", "preparel"), ("recaba", "recab"), ("robusta", "robust"),
    ("sentí", "senti"), ("studies", "studi"), ("tranvías", "tranvi"),
    ("zotoluco", "zotoluc"),
]


IT_VECTORS = [
    ("abakoumova", "abakoumov"), ("abbandonerà", "abbandoner"), ("angioli", "angiol"),
    ("badessa", "badess"), ("cavallina", "cavallin"), ("celebrità", "celebrit"),
    ("conquistando", "conquistand"), ("diatribe", "diatrib"), ("esibirgli", "esibirgl"),
    ("facilità", "facilit"), ("genuinamente", "genuinament"), ("indignati", "indignat"),
    ("lazzarini", "lazzarin"), ("maronianì", "maronian"), ("momentanea", "momentane"),
    ("partitico", "partitic"), ("prevedeva", "prevedev"), ("proverà", "prover"),
    ("resistette", "resistett"), ("rivisitazione", "rivisitazion"), ("seppellirsi", "seppellirs"),
    ("sfoderò", "sfoder"), ("stabilirsi", "stabilirs"), ("trainato", "trainat"),
]

PT_VECTORS = [
    ("aacho", "aach"), ("abaeté", "abaete"), ("aniversários", "aniversari"),
    ("bandeia", "bandei"), ("carrocinhas", "carrocinh"), ("castaño", "castañ"),
    ("concretizá", "concretiza"), ("decorre", "decorr"), ("dividindo", "dividind"),
    ("ecológicas", "ecologic"), ("esmerado", "esmerad"), ("filé", "file"),
    ("hemorragias", "hemorragi"), ("implantação", "implantaca"), ("intoxicações", "intoxicaca"),
    ("maldade", "maldad"), ("naquelas", "naquel"), ("náutica", "nautic"),
    ("pedaços", "pedac"), ("problemáticos", "problematic"), ("relíquias", "reliqui"),
    ("repreende", "repreend"), ("síndromes", "sindrom"), ("traçada", "tracad"),
]


@pytest.mark.parametrize(
    "fn,vectors",
    [
        (french_light_stem, FR_VECTORS),
        (german_light_stem, DE_VECTORS),
        (spanish_light_stem, ES_VECTORS),
        (italian_light_stem, IT_VECTORS),
        (portuguese_light_stem, PT_VECTORS),
    ],
    ids=["fr", "de", "es", "it", "pt"],
)
def test_light_stemmer_vectors(fn, vectors):
    for w, s in vectors:
        assert fn(w) == s, (w, fn(w), s)


# -- round 5: ru/sv/fi/hu light stemmers, FULL archive replay ----------------
# (like tests/test_kstem.py: every (word, stem) pair the reference ships)

_REF_ANALYSIS_TEST = (
    "/root/reference/lucene/analysis/common/src/test/org/apache/lucene/analysis"
)


@pytest.mark.parametrize(
    "fn,zip_rel,member,count",
    [
        (russian_light_stem, "ru/rulighttestdata.zip", "rulight.txt", 49673),
        (swedish_light_stem, "sv/svlighttestdata.zip", "svlight.txt", 30623),
        (finnish_light_stem, "fi/filighttestdata.zip", "filight.txt", 50000),
        (hungarian_light_stem, "hu/hulighttestdata.zip", "hulight.txt", 30000),
        # minimal / plural-only variants (round 5)
        (french_minimal_stem, "fr/frminimaltestdata.zip", "frminimal.txt", 20403),
        (german_minimal_stem, "de/deminimaltestdata.zip", "deminimal.txt", 35033),
        (spanish_plural_stem, "es/espluraltestdata.zip", "esplural.txt", 28754),
        (portuguese_minimal_stem, "pt/ptminimaltestdata.zip", "ptminimal.txt", 32016),
    ],
    ids=["ru", "sv", "fi", "hu", "fr_min", "de_min", "es_plural", "pt_min"],
)
def test_light_stemmer_full_archive(fn, zip_rel, member, count):
    path = os.path.join(_REF_ANALYSIS_TEST, zip_rel)
    if not os.path.exists(path):
        pytest.skip("reference vectors absent")
    with zipfile.ZipFile(path) as z:
        lines = z.read(member).decode("utf-8").splitlines()
    pairs = [ln.split("\t") for ln in lines if ln.strip()]
    assert len(pairs) == count
    bad = [(w, e, fn(w)) for w, e in pairs if fn(w) != e]
    assert bad == [], bad[:20]


def test_galician_minimal_vectors():
    """TestGalicianMinimalStemFilter.java:53-64 (no archive ships for this
    one — the reference tests it with spot vectors only)."""
    assert galician_minimal_stem("elefantes") == "elefante"
    assert galician_minimal_stem("elefante") == "elefante"
    assert galician_minimal_stem("kalóres") == "kalór"
    assert galician_minimal_stem("kalór") == "kalór"
    assert galician_minimal_stem("mas") == "mas"
    assert galician_minimal_stem("barcelonês") == "barcelonês"


def test_minimal_stemmer_presets():
    """The stemmer= variant presets bind the minimal/plural stemmers into
    the dictionary stage."""
    assert Analyzer.french(stemmer="minimal").stemmer == "french_minimal"
    assert Analyzer.german(stemmer="minimal").stemmer == "german_minimal"
    assert Analyzer.spanish(stemmer="plural").stemmer == "spanish_plural"
    assert Analyzer.portuguese(stemmer="minimal").stemmer == "portuguese_minimal"
    assert Analyzer.galician(stemmer="minimal").stemmer == "galician_minimal"
    with pytest.raises(ValueError):
        Analyzer.french(stemmer="plural")
    with pytest.raises(ValueError):
        Analyzer.galician(stemmer="light")


def test_german_normalization_fsm():
    """TestGermanNormalizationFilter.java cases: ae/oe/ue fold like umlauts,
    'ue' survives after a vowel or q, ß -> ss."""
    assert german_normalize("schaltflächen") == "schaltflachen"
    assert german_normalize("schaltflaechen") == "schaltflachen"
    assert german_normalize("dauer") == "dauer"
    assert german_normalize("quelle") == "quelle"
    assert german_normalize("weißbier") == "weissbier"
    assert german_normalize("") == ""


def test_short_words_pass_through():
    # FrenchLight norm only below thresholds; SpanishLight returns <5 as-is
    assert french_light_stem("à") == "à"
    assert spanish_light_stem("casa") == "casa"
    assert spanish_light_stem("über") == "über"  # <5 chars: no fold either


# -- unit: elision + Latin-1 tokenizer ---------------------------------------


def test_elision_articles():
    assert elide_french("l'analyse d'été qu'une jusqu'ici") == (
        " analyse  été  une  ici"
    )
    # non-article apostrophes survive (prefix not in DEFAULT_ARTICLES)
    assert elide_french("aujourd'hui grand'mère") == "aujourd'hui grand'mère"
    # case-insensitive (runs pre-lowercase)
    assert elide_french("L'État") == " État"


def test_latin1_tokenizer_keeps_accents():
    assert tokenize_text("Requêtes optimisées, schön; niño!", latin1=True) == [
        "requêtes", "optimisées", "schön", "niño",
    ]
    assert tokenize_text("weißbier größe", latin1=True) == ["weißbier", "größe"]
    # default ASCII pattern splits at accents (unchanged behavior)
    assert tokenize_text("requêtes") == ["requ", "tes"]


def test_latin1_analyze_column_parity(spark):
    """The Latin-1 tokenizer through the column form of the chain (run on
    the executors) == tokenize_text on the driver."""
    from pyspark.sql import functions as F

    texts = [
        "Requêtes optimisées très vite",
        "weißbier Größe fünf",
        "niño años 3,5 l'été",
        "",
        None,
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    col = Analyzer(latin1=True).analyze_column(F.col("text"))
    rows = df.select(col.alias("e")).collect()
    for t, r in zip(texts, rows):
        assert [x.term for x in r.e] == tokenize_text(t, latin1=True), t


def test_elision_italian():
    assert elide(
        "l'analisi dell'acqua un'ora quest'anno", "it"
    ) == " analisi  acqua  ora quest'anno"


@pytest.mark.parametrize(
    "preset",
    ["french", "german", "spanish", "italian", "portuguese",
     "russian", "swedish", "finnish", "hungarian",
     "arabic", "persian", "czech", "bulgarian", "greek", "hindi",
     "bengali", "indonesian", "latvian", "norwegian"],
    ids=["fr", "de", "es", "it", "pt", "ru", "sv", "fi", "hu",
         "ar", "fa", "cs", "bg", "el", "hi", "bn", "id", "lv", "no"],
)
def test_preset_roundtrip_and_noop(preset):
    an = getattr(Analyzer, preset)()
    assert not an.is_noop()
    assert Analyzer.from_json(an.to_json()) == an


# -- column form of the chain (executors, full chain incl. stem) -------------


_PRESET_TEXTS = [
    ("french", ["les requêtes optimisées de l'été", "qu'une table", ""]),
    ("german", ["die größten häuser und tabellen", "weißbier"]),
    ("spanish", ["las consultas rápidas y únicas", "el niño"]),
    ("italian", ["le tabelle dell'analisi ottimizzate", "un'ora"]),
    ("portuguese", ["as consultas rápidas e otimizadas", "ações"]),
    ("russian", ["быстрые запросы к таблицам", "СИСТЕМА и Ёлка", ""]),
    ("swedish", ["snabba frågor om tabeller", "större hus"]),
    ("finnish", ["nopeat kyselyt tauluista", "yhdessä ja erikseen"]),
    ("hungarian", ["gyors lekérdezések a táblákról", "tükörképe őrült"]),
    # round-5 international wave — fa/el exercise the char_fold
    # translate
    ("arabic", ["الكتاب والحسن فاطمة", "ولداً ونلْسون", ""]),
    ("persian", ["این کتابها و دوستان", "كتابۀ زادہ های"]),
    ("czech", ["velcí páni a hrady", "stavení mužů"]),
    ("bulgarian", ["градът и чудесата", "вестникът на краищата"]),
    ("greek", ["ο άνθρωπος και οι άνθρωποι", "ΜΆΪΟΣ ΰϊ σοφός"]),
    ("hindi", ["लडके और किताबों में", "अँगरेज़ी"]),
    ("bengali", ["মেয়েরা এবং বাড়ী", "কলকাতা থেকে"]),
    ("indonesian", ["bukukah dan kepastian", "memberikan pembunuhan"]),
    ("latvian", ["tēvi un cilvēki", "lielākais valstis"]),
    ("norwegian", ["hemmeligheten på bilens", "de fineste kakene"]),
]
_PRESET_IDS = ["fr", "de", "es", "it", "pt", "ru", "sv", "fi", "hu",
               "ar", "fa", "cs", "bg", "el", "hi", "bn", "id", "lv", "no"]


@pytest.mark.parametrize("preset,texts", _PRESET_TEXTS, ids=_PRESET_IDS)
def test_preset_entries_expr_matches_python_chain(spark, preset, texts):
    """analyze_column (run on the executors, dictionary stem included —
    what suggest/classify/monitor run) == analyze_text on the driver."""
    from pyspark.sql import functions as F

    an = getattr(Analyzer, preset)()
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(an.analyze_column(F.col("text")).alias("e")).collect()
    for t, r in zip(texts, rows):
        got = sorted((x["term"], x["pos"]) for x in (r.e or []))
        want = sorted(an.analyze_text(t))
        assert got == want, (preset, t)


# the other presets, with texts from (or words of) their own tests:
# test_analyzer, the CJK tests below, test_brazilian, test_rslp,
# test_sorani, test_intl; the wave-3 presets are in test_wave3
_MORE_PRESET_TEXTS = [
    ("english", ["the model is training the data", "the spark's queries"]),
    ("brazilian", ["a tabela", "as consultas rápidas"]),
    ("cjk", ["数据库 the 引擎", "あいうえおabんcかきくけ こ", "the spark ＤＢ 数据库查询"]),
    ("portuguese_rslp", ["as consultas rápidas e otimizadas", "professora"]),
    ("galician", ["as consultas rápidas sobre táboas optimizadas", "unha consulta lenta"]),
    ("sorani", ["پیاوەکان لە هۆتیلێکی گەورە", "دەرگاکان و پیاوان پێکەوە"]),
    ("telugu", ["వస్తువులు పన్నులు", "ఒౕ చై"]),
]


@pytest.mark.parametrize(
    "preset,texts",
    _PRESET_TEXTS + _MORE_PRESET_TEXTS,
    ids=_PRESET_IDS + [p for p, _ in _MORE_PRESET_TEXTS],
)
def test_preset_query_chain_matches_index_chain(preset, texts):
    """No preset has an expansion stage, so query analysis must give the
    index chain's terms at the same positions."""
    an = getattr(Analyzer, preset)()
    for t in texts + [None]:
        assert an.analyze_query_positions(t) == an.analyze_text(t), (preset, t)


# -- engine vs oracle parity (full build path incl. dictionary stem) ---------


def _mk_rows(texts):
    from datetime import datetime

    t0 = datetime(2026, 1, 1)
    return [
        dict(conv_id=f"c{i//2}", turn_idx=i % 2, role="user", tool=None,
             ts=t0, text=t)
        for i, t in enumerate(texts)
    ]


@pytest.mark.parametrize(
    "preset,texts,query",
    [
        (
            "french",
            [
                "les requêtes optimisées pour l'analyse des données",
                "une requête lente sans analyse",
                "les tables jointes et les requêtes",
                "rien d'intéressant ici",
            ],
            "requêtes analyse",
        ),
        (
            "german",
            [
                "die größten tabellen der häuser",
                "eine tabelle mit schlüsseln",
                "häuser ohne schlüssel und tabellen",
                "nichts besonderes",
            ],
            "tabellen häuser",
        ),
        (
            "spanish",
            [
                "las consultas rápidas sobre tablas únicas",
                "una consulta lenta",
                "tablas y consultas combinadas",
                "nada interesante",
            ],
            "consultas tablas",
        ),
        (
            "italian",
            [
                "le tabelle ottimizzate per l'analisi dei dati",
                "una tabella lenta senza analisi",
                "le interrogazioni veloci sulle tabelle",
                "niente di interessante",
            ],
            "tabelle analisi",
        ),
        (
            "portuguese",
            [
                "as consultas rápidas sobre tabelas otimizadas",
                "uma consulta lenta",
                "tabelas e consultas combinadas",
                "nada interessante",
            ],
            "consultas tabelas",
        ),
        (
            "russian",
            [
                "быстрые запросы к таблицам с данными",
                "один медленный запрос без данных",
                "таблицы и запросы вместе",
                "ничего интересного здесь",
            ],
            "запросы таблицы",
        ),
        (
            "swedish",
            [
                "snabba frågor om optimerade tabeller",
                "en långsam fråga",
                "tabeller och frågor tillsammans",
                "inget intressant",
            ],
            "frågor tabeller",
        ),
        (
            "finnish",
            [
                "nopeat kyselyt optimoiduista tauluista",
                "yksi hidas kysely",
                "taulut ja kyselyt yhdessä",
                "ei mitään kiinnostavaa",
            ],
            "kyselyt taulut",
        ),
        (
            "hungarian",
            [
                "gyors lekérdezések az optimalizált táblákról",
                "egy lassú lekérdezés",
                "táblák és lekérdezések együtt",
                "semmi érdekes",
            ],
            "lekérdezések táblák",
        ),
        (
            "arabic",
            [
                "الكتاب الجديد في المكتبة",
                "كتاب قديم",
                "الكتب والمكتبات معا",
                "لا شيء مهم",
            ],
            "كتاب مكتبة",
        ),
        (
            "persian",
            [
                "کتابهای خوب و دوستان",
                "یک کتاب تنها",
                "دوستها و کتابها",
                "هیچ چیز",
            ],
            "کتابها دوست",
        ),
        (
            "czech",
            [
                "velcí páni a staré hrady",
                "jeden pán bez hradu",
                "hrady a páni spolu",
                "nic zajímavého",
            ],
            "páni hrady",
        ),
        (
            "bulgarian",
            [
                "градът и новите чудеса",
                "един град без чудо",
                "градовете и чудесата заедно",
                "нищо интересно",
            ],
            "градът чудесата",
        ),
        (
            "greek",
            [
                "ο άνθρωπος και τα βιβλία",
                "ένας άνθρωπος μόνος",
                "οι άνθρωποι και τα βιβλία μαζί",
                "τίποτα ενδιαφέρον",
            ],
            "άνθρωπος βιβλία",
        ),
        (
            "hindi",
            [
                "लडके और किताबों में",
                "एक लडका अकेला",
                "किताबें और लडके साथ",
                "कुछ नहीं",
            ],
            "लडके किताबों",
        ),
        (
            "bengali",
            [
                "মেয়েরা এবং বইগুলো",
                "একটি মেয়ে একা",
                "বই এবং মেয়েদের সাথে",
                "কিছুই না",
            ],
            "মেয়েরা বইগুলো",
        ),
        (
            "indonesian",
            [
                "bukukah dan kepastian besar",
                "sebuah buku tunggal",
                "buku-buku dan kepastiannya",
                "tidak ada apa-apa",
            ],
            "bukukah kepastian",
        ),
        (
            "latvian",
            [
                "tēvi un lielie cilvēki",
                "viens tēvs viens",
                "cilvēki un tēvi kopā",
                "nekas interesants",
            ],
            "tēvi cilvēki",
        ),
        (
            "norwegian",
            [
                "hemmeligheten og de fine kakene",
                "en hemmelig kake",
                "kaker og hemmeligheter sammen",
                "ingenting interessant",
            ],
            "hemmeligheten kakene",
        ),
    ],
    ids=["fr", "de", "es", "it", "pt", "ru", "sv", "fi", "hu",
         "ar", "fa", "cs", "bg", "el", "hi", "bn", "id", "lv", "no"],
)
def test_preset_search_parity(spark, preset, texts, query):
    from lucene_spark.fixtures import transcripts_df
    from lucene_spark.index import IndexBuilder

    an = getattr(Analyzer, preset)()
    rows = _mk_rows(texts)
    idx = IndexBuilder(num_segments=2, analyzer=an).build(
        transcripts_df(spark, rows=rows)
    )
    orc = OracleIndex.build(rows, analyzer=an)
    s = IndexSearcher(idx)
    terms = s.parse_terms(query)
    # the analyzer actually stems the query terms
    assert terms != query.split()
    q = BooleanQuery.of(*[(TermQuery(t), Occur.SHOULD) for t in terms])
    engine = s.search(q, 10).collect()
    okeys = orc.topk_keys(orc.search_or(terms, 10))
    assert [(r.conv_id, r.turn_idx) for r in engine] == [
        (c, t) for c, t, _ in okeys
    ]
    np.testing.assert_array_equal(
        np.array([r.score for r in engine], dtype=np.float32),
        np.array([sc for _, _, sc in okeys], dtype=np.float32),
    )
    idx.unpersist_all()


# -- CJK bigrams (cjk/CJKAnalyzer.java chain) --------------------------------


def test_cjk_bigram_vectors():
    """TestCJKAnalyzer.java cases: runs -> bigrams, lone chars -> unigrams,
    latin passes through, runs break at non-CJK boundaries."""
    an = Analyzer.cjk()

    def terms(t):
        return [w for w, _ in an.analyze_text(t)]

    assert terms("一二三四五六七八九十") == [
        "一二", "二三", "三四", "四五", "五六", "六七", "七八", "八九", "九十",
    ]
    assert terms("一 二三四 五六七八九 十") == [
        "一", "二三", "三四", "五六", "六七", "七八", "八九", "十",
    ]
    assert terms("あいうえおabcかきくけこ") == [
        "あい", "いう", "うえ", "えお", "abc", "かき", "きく", "くけ", "けこ",
    ]
    # testMix2: lone CJK between latin emits a unigram
    assert terms("あいうえおabんcかきくけ こ") == [
        "あい", "いう", "うえ", "えお", "ab", "ん", "c", "かき", "きく", "くけ", "こ",
    ]
    assert terms("test") == ["test"]
    # stop set applies to embedded latin only
    assert terms("the 多く") == ["多く"]


def test_cjk_width_fold():
    from lucene_spark.analysis import cjk_width_fold

    assert cjk_width_fold("ＡＢＣ１２３ ｘ") == "ABC123 x"
    an = Analyzer.cjk()
    assert [w for w, _ in an.analyze_text("ＤＢ 数据")] == ["db", "数据"]


def test_cjk_width_fold_halfwidth_kana():
    """TestCJKWidthFilter.testHalfWidthKana (cjk/TestCJKWidthFilter.java:
    58-63): halfwidth katakana normalize, and halfwidth voiced/semi-voiced
    marks RECOMBINE with the preceding base form."""
    from lucene_spark.analysis import cjk_width_fold

    assert cjk_width_fold("ｶﾀｶﾅ") == "カタカナ"
    assert cjk_width_fold("ｳﾞｨｯﾂ") == "ヴィッツ"       # ｳ+゛ -> ヴ (delta 78)
    assert cjk_width_fold("ﾊﾟﾅｿﾆｯｸ") == "パナソニック"  # ﾊ+゜ -> パ (delta 2)
    assert cjk_width_fold("ｶﾞｷﾞ") == "ガギ"             # ka-row voiced (+1)
    # a mark that cannot combine falls back to U+3099/U+309A
    assert cjk_width_fold("aﾞ") == "a゙"
    assert cjk_width_fold("ﾟ") == "゚"
    # a second mark after a successful combine cannot re-combine
    assert cjk_width_fold("ｳﾞﾞ") == "ヴ゙"
    # fullwidth base + halfwidth mark combines too (prev is normalized)
    assert cjk_width_fold("ウﾞ") == "ヴ"


def test_cjk_width_fold_jvm_parity(spark):
    """The full cjk chain (width fold + bigrams) through the column form
    on the executors equals analyze_text on a mark-dense sample."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(42)
    alphabet = (
        [chr(c) for c in range(0xFF66, 0xFFA0)]      # halfwidth kana + marks
        + [chr(c) for c in range(0x30A1, 0x30FB)]    # fullwidth kana
        + ["ﾞ", "ﾟ", "a", "Ｚ", "５", " "]
    )
    texts = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 30)))
        for _ in range(60)
    ]
    an = Analyzer.cjk()
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(an.analyze_column(F.col("text")).alias("e")).collect()
    for t, r in zip(texts, rows):
        got = sorted((x["term"], x["pos"]) for x in (r.e or []))
        want = sorted(an.analyze_text(t))
        assert got == want, t


def test_cjk_positions_dense_over_bigrams():
    an = Analyzer.cjk()
    # positions advance per emission (bigram stream), stop holes preserved
    out = an.analyze_text("数据库 the 引擎")
    assert out == [("数据", 0), ("据库", 1), ("引擎", 3)]


def test_cjk_analyze_column_parity(spark):
    from pyspark.sql import functions as F

    an = Analyzer.cjk()
    texts = [
        "あいうえおabんcかきくけ こ",
        "多くの学生が試験に落ちた。",
        "the spark ＤＢ 数据库查询",
        "한국어 텍스트 spark",
        "",
        None,
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(an.analyze_column(F.col("text")).alias("e")).collect()
    for t, r in zip(texts, rows):
        got = sorted((x["term"], x["pos"]) for x in (r.e or []))
        want = sorted(an.analyze_text(t))
        assert got == want, t


def test_cjk_search_parity(spark):
    from lucene_spark.fixtures import transcripts_df
    from lucene_spark.index import IndexBuilder

    an = Analyzer.cjk()
    rows = _mk_rows(
        [
            "数据库查询优化 spark engine",
            "分布式数据 库 计算引擎",
            "no cjk content here",
            "查询 引擎 数据",
        ]
    )
    idx = IndexBuilder(num_segments=2, analyzer=an).build(
        transcripts_df(spark, rows=rows)
    )
    orc = OracleIndex.build(rows, analyzer=an)
    s = IndexSearcher(idx)
    terms = s.parse_terms("数据库 引擎")
    assert terms == ["数据", "据库", "引擎"]
    q = BooleanQuery.of(*[(TermQuery(t), Occur.SHOULD) for t in terms])
    engine = s.search(q, 10).collect()
    okeys = orc.topk_keys(orc.search_or(terms, 10))
    assert [(r.conv_id, r.turn_idx) for r in engine] == [
        (c, t) for c, t, _ in okeys
    ]
    np.testing.assert_array_equal(
        np.array([r.score for r in engine], dtype=np.float32),
        np.array([sc for _, _, sc in okeys], dtype=np.float32),
    )
    idx.unpersist_all()


def test_french_stopword_holes_through_elision(spark):
    """'l'' elides, 'de'/'la' stop out with position holes — phrase
    positions must honor the gaps (oracle check via analyze_text)."""
    an = Analyzer.french()
    out = an.analyze_text("l'analyse de la requête")
    # elision: "l'analyse" -> " analyse": analyse@0, de@1 stop, la@2 stop,
    # requête@3 -> stem
    assert out == [
        ("analys", 0),
        (french_light_stem("requête"), 3),
    ]
