from lucene_spark.analysis.tokenizer import (  # noqa: F401
    MAX_TOKEN_LENGTH,
    TOKEN_PATTERN,
    tokenize_text,
)
from lucene_spark.analysis.analyzer import (  # noqa: F401
    DICT_STEMMERS,
    ENGLISH_STOP_WORDS,
    Analyzer,
    s_stem,
    s_stem_sql,
)
from lucene_spark.analysis.lang import (  # noqa: F401
    CJK_STOP_WORDS,
    ELISION_PATTERN,
    ELISION_PATTERNS,
    cjk_width_fold,
    FRENCH_STOP_WORDS,
    GERMAN_STOP_WORDS,
    ITALIAN_STOP_WORDS,
    PORTUGUESE_STOP_WORDS,
    SPANISH_STOP_WORDS,
    elide,
    elide_french,
    finnish_light_stem,
    french_light_stem,
    french_minimal_stem,
    german_light_stem,
    german_minimal_stem,
    german_normalize,
    german_normalize_and_stem,
    hungarian_light_stem,
    italian_light_stem,
    portuguese_light_stem,
    russian_light_stem,
    spanish_light_stem,
    spanish_plural_stem,
    swedish_light_stem,
)
from lucene_spark.analysis.lang_stopwords import (  # noqa: F401
    FINNISH_STOP_WORDS,
    GALICIAN_STOP_WORDS,
    HUNGARIAN_STOP_WORDS,
    SORANI_STOP_WORDS,
    RUSSIAN_STOP_WORDS,
    SWEDISH_STOP_WORDS,
)
from lucene_spark.analysis.greek import (  # noqa: F401
    GREEK_FOLD,
    greek_fold,
    greek_fold_and_stem,
    greek_stem,
)
from lucene_spark.analysis.intl import (  # noqa: F401
    PERSIAN_FOLD,
    arabic_normalize,
    arabic_normalize_and_stem,
    arabic_stem,
    bengali_normalize,
    bengali_normalize_and_stem,
    bengali_stem,
    bulgarian_stem,
    czech_stem,
    hindi_normalize,
    hindi_normalize_and_stem,
    hindi_stem,
    indonesian_stem,
    latvian_stem,
    norwegian_light_stem,
    norwegian_light_stem_nn,
    norwegian_minimal_stem,
    norwegian_minimal_stem_nn,
    persian_normalize,
    persian_stem,
    telugu_normalize,
    telugu_normalize_and_stem,
    telugu_stem,
)
from lucene_spark.analysis.porter import porter_stem  # noqa: F401
from lucene_spark.analysis.rslp import (  # noqa: F401
    galician_minimal_stem,
    galician_stem,
    portuguese_minimal_stem,
    portuguese_rslp_stem,
)
from lucene_spark.analysis.sorani import (  # noqa: F401
    sorani_normalize,
    sorani_normalize_and_stem,
    sorani_stem,
)
from lucene_spark.analysis.hunspell import (  # noqa: F401
    HunspellDictionary,
    HunspellStemmer,
)
from lucene_spark.analysis.hunspell import (  # noqa: F401
    register_stemmer as register_hunspell_stemmer,
)
from lucene_spark.analysis.path import (  # noqa: F401
    path_hierarchy_expr,
    path_hierarchy_tokens,
)
