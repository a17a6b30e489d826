"""POS tagging + lemmatization as one fused Arrow-batched stage.

Behavioral reference (re-expressed):
  - POS: ``tagger/maxent/MaxentTagger.java`` (MaxEnt CMM over left3words
    features, ``ExtractorFrames.java:104-145``). Here: a TRAINED averaged
    perceptron over the same feature frame (prev tag, ±1 words, suffixes,
    shape) — weights trained deterministically by scripts/train_models.py
    and shipped as a committed artifact (the analog of the reference's model
    files, ``pipeline/DefaultPaths.java``). A closed-class dictionary pins
    function words — the analog of the tag dictionary restricting the
    MaxEnt search space (``tagger/maxent/TestSentence.java:335-341``) —
    but carries NO open-class vocabulary: content words are the model's job.
  - lemma: ``process/Morphology.java:110`` / ``process/Morpha.flex`` —
    finite-state stemming re-expressed as exception dict + suffix rules.

The model loads lazily once per executor process and scores Arrow batches.
The stage is narrow: per-doc, zero shuffle.
"""

from __future__ import annotations

import re

TAGGED_TOKENS_TYPE = (
    "array<struct<idx:int,word:string,original:string,begin:int,end:int,"
    "span_idx:int,sent:int,pos:string,lemma:string>>"
)

# ---------------------------------------------------------------------------
# Closed-class dictionary: genuinely finite English function words only
# (determiners, pronouns, prepositions, auxiliaries, modals, contraction
# artifacts). Open-class/content vocabulary lives in the trained model.
# ---------------------------------------------------------------------------
CLOSED_CLASS: dict[str, str] = {
    # "that" pinned IN (complementizer reading) — the downstream clause
    # patterns (depparse/openie) are built for it, matching the r1 lexicon
    "the": "DT", "a": "DT", "an": "DT", "this": "DT", "that": "IN",
    "these": "DT", "those": "DT", "all": "DT", "some": "DT", "no": "DT",
    "every": "DT", "any": "DT", "each": "DT", "both": "DT", "there": "EX",
    "i": "PRP", "you": "PRP", "he": "PRP", "she": "PRP", "it": "PRP",
    "we": "PRP", "they": "PRP", "him": "PRP", "her": "PRP$", "them": "PRP",
    "his": "PRP$", "its": "PRP$", "their": "PRP$", "my": "PRP$",
    "your": "PRP$", "our": "PRP$", "me": "PRP", "us": "PRP",
    "himself": "PRP", "herself": "PRP", "itself": "PRP", "themselves": "PRP",
    "myself": "PRP", "who": "WP", "whom": "WP", "which": "WDT",
    "what": "WP", "whose": "WP$", "where": "WRB", "when": "WRB", "why": "WRB",
    "how": "WRB",
    "and": "CC", "or": "CC", "but": "CC", "nor": "CC",
    "of": "IN", "in": "IN", "on": "IN", "at": "IN", "by": "IN", "from": "IN",
    "with": "IN", "for": "IN", "as": "IN", "to": "TO", "into": "IN",
    "over": "IN", "under": "IN", "after": "IN", "before": "IN",
    "about": "IN", "between": "IN", "during": "IN", "against": "IN",
    "without": "IN", "within": "IN", "through": "IN", "upon": "IN",
    "among": "IN", "since": "IN", "until": "IN", "toward": "IN",
    "despite": "IN", "whether": "IN", "while": "IN", "than": "IN",
    "although": "IN", "though": "IN", "unless": "IN", "because": "IN",
    "beyond": "IN", "beneath": "IN", "across": "IN", "behind": "IN",
    "near": "IN", "amid": "IN", "via": "IN", "per": "IN", "onto": "IN",
    "throughout": "IN", "outside": "IN", "inside": "IN", "if": "IN",
    "is": "VBZ", "am": "VBP", "are": "VBP", "was": "VBD", "were": "VBD",
    "be": "VB", "been": "VBN", "being": "VBG",
    "'s": "POS", "'m": "VBP", "'re": "VBP", "'ve": "VBP", "'ll": "MD",
    "'d": "MD", "n't": "RB", "not": "RB",
    "has": "VBZ", "does": "VBZ", "did": "VBD",
    "will": "MD", "would": "MD", "can": "MD", "could": "MD",
    "might": "MD", "shall": "MD", "should": "MD", "must": "MD",
    # number words: a genuinely finite class, CD in PTB
    "one": "CD", "two": "CD", "three": "CD", "four": "CD", "five": "CD",
    "six": "CD", "seven": "CD", "eight": "CD", "nine": "CD", "ten": "CD",
    "eleven": "CD", "twelve": "CD", "twenty": "CD", "thirty": "CD",
    "forty": "CD", "fifty": "CD", "hundred": "CD", "thousand": "CD",
    "million": "CD", "billion": "CD", "dozen": "CD",
    # high-frequency adverbs with a single overwhelming PTB reading
    "then": "RB", "now": "RB", "also": "RB", "only": "RB", "just": "RB",
    "very": "RB", "really": "RB", "too": "RB", "soon": "RB", "never": "RB",
    "always": "RB", "often": "RB", "again": "RB", "still": "RB",
    "however": "RB", "so": "RB", "here": "RB", "yet": "RB", "aloud": "RB",
    # weekday / unambiguous month names: a closed set, NNP in PTB
    "monday": "NNP", "tuesday": "NNP", "wednesday": "NNP",
    "thursday": "NNP", "friday": "NNP", "saturday": "NNP", "sunday": "NNP",
    "january": "NNP", "february": "NNP", "april": "NNP", "june": "NNP",
    "july": "NNP", "september": "NNP", "october": "NNP",
    "november": "NNP", "december": "NNP",
    # tokenizer contraction artifacts ("gonna" → "gon na", "gimme" → "gim me")
    "gon": "VBG", "na": "TO", "gim": "VB",
}
# "may" is MD only in lowercase (capitalized it is usually the month NNP)
_LOWER_ONLY = {"may": "MD"}

_PUNCT_TAGS = {".": ".", ",": ",", ":": ":", ";": ":", "?": ".", "!": ".",
               "``": "``", "''": "''", "(": "-LRB-", ")": "-RRB-",
               "[": "-LRB-", "]": "-RRB-", "{": "-LRB-", "}": "-RRB-",
               "--": ":", "$": "$", "US$": "$", "#": "#", "...": ":"}

_RE_NUM = re.compile(r"^\d[\d,.:]*$")
_RE_ORD = re.compile(r"^\d+(st|nd|rd|th)$")

_POS_MODEL = None


def _get_pos_model():
    """Lazy once-per-process model load (executor-side; the committed
    weights artifact rides with the package via --py-files)."""
    global _POS_MODEL
    if _POS_MODEL is None:
        from corenlp_spark.models.perceptron import (
            AveragedPerceptronTagger, load_weights,
        )
        _POS_MODEL = AveragedPerceptronTagger.from_broadcastable(
            load_weights("pos"))
    return _POS_MODEL


def _pos_constraints(words: list[str]) -> dict[int, str]:
    fixed: dict[int, str] = {}
    for i, w in enumerate(words):
        lw = w.lower()
        if w in _PUNCT_TAGS:
            fixed[i] = _PUNCT_TAGS[w]
        elif _RE_ORD.match(w):
            fixed[i] = "JJ"  # ordinals tag JJ in PTB
        elif _RE_NUM.match(w):
            fixed[i] = "CD"
        elif lw in CLOSED_CLASS:
            fixed[i] = CLOSED_CLASS[lw]
        elif lw in _LOWER_ONLY and w.islower():
            fixed[i] = _LOWER_ONLY[lw]
    return fixed


def pos_tag(words: list[str], sent_starts: set[int]) -> list[str]:
    """Tag one document's token words with the trained averaged perceptron.
    ``sent_starts``: indices starting a sentence (left context resets)."""
    return pos_tag_batch([(words, sent_starts)])[0]


def pos_tag_batch(docs: list[tuple[list[str], set[int]]]) -> list[list[str]]:
    """Batched pos_tag over many documents (one numpy score per token
    position across the whole batch — see
    AveragedPerceptronTagger.predict_with_constraints_batch)."""
    return _get_pos_model().predict_with_constraints_batch(
        [(words, _pos_constraints(words), starts) for words, starts in docs])


# ---------------------------------------------------------------------------
# Lemmatizer (Morpha re-expressed: tag-sensitive exception tables + suffix
# rules; behavioral reference process/Morphology.java + morpha.flex, golden
# suite test/…/process/MorphologyTest.java ported in tests/test_morphology.py)
# ---------------------------------------------------------------------------

# verb irregulars (apply only under verbal tags: "saw"/NN stays "saw")
_VERB_EXC: dict[str, str] = {
    "was": "be", "were": "be", "is": "be", "are": "be", "am": "be",
    "been": "be", "being": "be", "'m": "be", "'re": "be", "ai": "be",
    "art": "be", "s": "be", "re": "be", "r": "be", "hath": "have",
    "has": "have", "had": "have", "having": "have", "'ve": "have",
    "does": "do", "did": "do", "done": "do", "du": "do", "no": "know",
    "said": "say", "spoke": "speak", "spoken": "speak", "thought": "think",
    "grew": "grow", "grown": "grow", "won": "win", "taught": "teach",
    "paid": "pay", "held": "hold", "ate": "eat", "eaten": "eat",
    "gave": "give", "given": "give", "took": "take", "taken": "take",
    "went": "go", "gone": "go", "came": "come", "saw": "see", "seen": "see",
    "made": "make", "got": "get", "gotten": "get", "left": "leave",
    "born": "bear", "bore": "bear", "borne": "bear", "known": "know",
    "knew": "know", "found": "find", "ran": "run", "bought": "buy",
    "brought": "bring", "built": "build", "sold": "sell", "told": "tell",
    "felt": "feel", "kept": "keep", "led": "lead", "met": "meet",
    "sat": "sit", "stood": "stand", "lost": "lose", "sent": "send",
    "wrote": "write", "written": "write", "read": "read", "rode": "ride",
    "ridden": "ride", "drove": "drive", "driven": "drive", "flew": "fly",
    "flown": "fly", "fell": "fall", "fallen": "fall", "began": "begin",
    "begun": "begin", "broke": "break", "broken": "break", "chose": "choose",
    "chosen": "choose", "spent": "spend", "caught": "catch", "put": "put",
    "gon": "go", "wan": "want", "defeated": "defeat", "decided": "decide",
}

# noun irregular plurals + invariants
_NOUN_EXC: dict[str, str] = {
    "men": "man", "women": "woman", "children": "child", "feet": "foot",
    "mice": "mouse", "geese": "goose", "teeth": "tooth", "people": "person",
    "graffiti": "graffito", "lives": "life", "wives": "wife",
    "leaves": "leaf", "halves": "half", "knives": "knife",
}
_PLURAL_INVARIANT = {
    "feces", "goggles", "brethren", "series", "species", "news", "olympics",
    "scissors", "trousers", "pants", "clothes", "means", "headquarters",
}

# comparative/superlative irregulars (only under JJR/JJS/RBR/RBS)
_GRADE_EXC: dict[str, str] = {
    "better": "good", "best": "good", "worse": "bad", "worst": "bad",
    "gooier": "gooey", "gooiest": "gooey", "more": "more", "most": "most",
    "less": "less", "least": "least", "further": "far", "farther": "far",
    "earlier": "early", "earliest": "early",
}

# closed-class tag-keyed tables
_MD_EXC = {"wo": "will", "ca": "can", "sha": "shall", "'d": "would",
           "d": "would", "'ll": "will", "'t": "not", "ll": "will",
           "am": "be"}
_PRP_EXC = {"her": "she", "them": "they", "us": "we", "i": "I",
            "their": "they", "me": "I", "him": "he", "my": "I",
            "his": "he", "our": "we", "your": "you", "its": "it",
            # the 'tis/'twas clitic subject ("'t is" → it)
            "'t": "it", "’t": "it"}
_RB_NOT = {"n't", "n’t", "nt", "not"}

# stems whose doubled final consonant undoubles ("stopped"→stop) — Morpha
# gates this lexically (unknown "xopped" keeps "xopp"); common-verb subset
_UNDOUBLE_STEMS = {
    "stop", "plan", "run", "sit", "drop", "grab", "ship", "trim", "chat",
    "clap", "beg", "hug", "jog", "nod", "pat", "pin", "plug", "rob", "rub",
    "scan", "shop", "skip", "slam", "slip", "spot", "stir", "swap", "tap",
    "tip", "trap", "occur", "refer", "prefer", "permit", "admit", "commit",
    "submit", "forget", "regret", "control", "patrol", "equip", "wrap",
    "step", "top", "map", "cap", "tan", "win", "dig", "get", "let", "cut",
    "hit", "quit", "split", "fit", "set", "bat", "dim", "glum", "grin",
    "knit", "mug", "nap", "rip", "snap", "strip", "stun", "swim", "travel",
}
_VOWELS = set("aeiou")


def _restore_e(stem: str) -> str:
    """mak→make, wid→wide: single-syllable C-V-C stems regain the dropped e
    (the morpha.flex e-insertion class, lexicon-free approximation)."""
    if (len(stem) >= 3 and stem[-1] not in _VOWELS | set("wxy")
            and stem[-2] in _VOWELS and stem[-3] not in _VOWELS):
        groups = 0
        in_v = False
        for c in stem:
            if c in _VOWELS:
                if not in_v:
                    groups += 1
                in_v = True
            else:
                in_v = False
        if groups == 1:
            return stem + "e"
    return stem


def _undouble(stem: str) -> str:
    if len(stem) > 2 and stem[-1] == stem[-2] and stem[:-1] in _UNDOUBLE_STEMS:
        return stem[:-1]
    return stem


def _strip_grade(lw: str, suf_len: int) -> str:
    """Drop -er/-est with y-restoration, undoubling, and e-restoration."""
    stem = lw[: -suf_len]
    if stem.endswith("i"):
        return stem[:-1] + "y"  # easier → easy
    if len(stem) > 2 and stem[-1] == stem[-2] and stem[-1] not in _VOWELS:
        return stem[:-1]        # glummer → glum
    return _restore_e(stem)     # tamer → tame, quicker → quick


def lemmatize(word: str, pos: str) -> str:
    lw = word.lower()
    # unchanged categories: proper nouns keep case, symbols/numbers/foreign
    # words/affixes pass through
    if pos.startswith("NNP") or pos in ("SYM", "CD", "FW", "AFX", "LS"):
        return word
    if pos == "POS":
        return "'s" if lw in ("'s", "’s") else lw
    if pos == "MD":
        return _MD_EXC.get(lw, lw)
    if pos in ("PRP", "PRP$"):
        return _PRP_EXC.get(lw, lw)
    if pos.startswith("RB") and lw in _RB_NOT:
        return "not"
    if pos == "TO":
        return "to"  # incl. "na" from gonna
    if pos == "DT":
        return "a" if lw == "an" else lw
    # hyphenated verbs lemmatize their final segment: out-rode → out-ride
    if pos.startswith("V") and "-" in lw[1:-1]:
        head, _, tail = lw.rpartition("-")
        return head + "-" + lemmatize(tail, pos)
    if pos.startswith("V") or pos == "MD":
        if lw in _VERB_EXC:
            return _VERB_EXC[lw]
    if pos in ("JJR", "JJS", "RBR", "RBS"):
        if lw in _GRADE_EXC:
            return _GRADE_EXC[lw]
        if lw.endswith("est"):
            return _strip_grade(lw, 3)
        if lw.endswith("er"):
            return _strip_grade(lw, 2)
        return lw
    if pos.startswith("NNS") or pos == "VBZ":
        if pos == "VBZ" and lw in _VERB_EXC:
            return _VERB_EXC[lw]
        if lw in ("'s", "’s"):
            return "be" if pos == "VBZ" else lw
        if pos.startswith("NNS"):
            # noun-only exceptions: "lives"/VBZ must stay the verb live
            if lw in _NOUN_EXC:
                return _NOUN_EXC[lw]
            if lw == "olympics" or lw.endswith("ese"):
                return word  # Olympics / Chinese: invariant, case preserved
            if lw in _PLURAL_INVARIANT:
                return lw
        if lw.endswith(("'s", "’s")) and len(lw) <= 4:
            return lw[:-2]  # K's → k
        if word[:-1].isupper() and word.endswith("s"):
            return word[:-1]  # ABCs → ABC
        if lw.endswith("ies") and len(lw) > 4:
            return lw[:-3] + "y"
        if lw.endswith(("ses", "xes", "zes", "ches", "shes")):
            return lw[:-2]
        if lw.endswith("s") and not lw.endswith("ss"):
            return lw[:-1]
        return lw
    if pos in ("VBD", "VBN"):
        if lw.endswith("'d"):
            return lw[:-2]  # ski'd → ski
        if lw.endswith("ied"):
            # short stems keep the ie: died→die, lied→lie; else tried→try
            return lw[:-1] if len(lw) <= 4 else lw[:-3] + "y"
        if lw.endswith("ed"):
            stem = lw[:-2]
            if len(stem) > 2 and stem[-1] == stem[-2] and stem[-1] not in _VOWELS:
                return _undouble(stem)
            if stem.endswith(("at", "iv", "iz", "us", "ir", "ag", "ac", "qu",
                              "rg", "dg", "nc", "rs", "ns")) \
                    or stem.endswith("creat"):
                return stem + "e"
            return _restore_e(stem)
        return lw
    if pos == "VBG" and lw.endswith("ing"):
        stem = lw[:-3]
        if not stem:
            return lw
        if len(stem) > 2 and stem[-1] == stem[-2] and stem[-1] not in _VOWELS:
            return _undouble(stem)
        return _restore_e(stem)
    if lw.endswith("ese"):
        return word  # nationality adjectives keep case (Chinese/JJ)
    return lw
