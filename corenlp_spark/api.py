"""Properties-driven pipeline façade — the primary CoreNLP entry point
re-expressed (``pipeline/StanfordCoreNLP.java:213,481,707``; SURVEY.md §3.1).

A user of the reference writes::

    props = {"annotators": "tokenize,ssplit,pos,lemma,ner,openie"}
    pipeline = StanfordCoreNLP(props); pipeline.annotate(doc)

Here the same configuration surface drives DataFrame transforms::

    pipe = Pipeline(annotators="tokenize,ssplit,pos,lemma,ner,openie")
    annotated = pipe(docs_df)          # docs(doc_id, spans) → annotated
    triples   = pipe.triples(docs_df)  # when openie is requested

Semantics carried over:
  - ``ensurePrerequisiteAnnotators`` (StanfordCoreNLP.java:481): the
    requested annotator list is topologically completed from the
    requirements DAG (asking for "openie" pulls in tokenize…depparse);
  - ``enforceRequirements``: unknown annotators fail at CONSTRUCTION time,
    like the reference's pipeline build;
  - per-annotator properties ride in ``properties`` (tokenizer options,
    docdate policy, entailment on/off).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# requirements DAG (Annotator.DEFAULT_REQUIREMENTS, Annotator.java:128-162,
# collapsed onto the cuts of the fused kernel: tokenize+ssplit are one cut,
# pos+lemma are one cut)
_REQUIRES: dict[str, tuple[str, ...]] = {
    "tokenize": (),
    "cleanxml": (),            # folded into tokenize (markup barriers)
    "ssplit": ("tokenize",),
    "docdate": (),
    "pos": ("tokenize", "ssplit"),
    "lemma": ("pos",),
    "ner": ("pos", "lemma"),
    "regexner": ("ner",),      # folded into ner (gazetteer overwrite layer)
    "sutime": ("ner", "docdate"),
    "entitymentions": ("ner",),
    "depparse": ("pos", "lemma", "ner"),
    "natlog": ("depparse",),   # polarity gating lives inside openie
    "openie": ("depparse", "natlog", "coref"),
    "entail": ("depparse",),
    "coref": ("ner",),
    "entitylink": ("entitymentions",),
    "kbp": ("openie", "coref", "entitymentions"),
    "quote": ("ner",),
    "truecase": ("tokenize",),
    "gender": ("entitymentions",),
    "sentiment": ("depparse",),  # polarity-aware lexicon scorer
}

# annotate() cuts backing the annotator names, deepest first
_CUTS = (("coref", {"coref"}), ("depparse", {"depparse"}), ("ner", {"ner"}),
         ("tag", {"pos", "lemma"}), ("tokenize", {"tokenize"}))


class Pipeline:
    """Configured annotation pipeline over docs(doc_id, spans) DataFrames."""

    def __init__(self, annotators: str = "tokenize,ssplit,pos,lemma,ner",
                 properties: dict | None = None):
        requested = [a.strip() for a in annotators.split(",") if a.strip()]
        unknown = [a for a in requested if a not in _REQUIRES]
        if unknown:
            raise ValueError(
                f"unknown annotator(s) {unknown}; known: {sorted(_REQUIRES)}")
        # ensurePrerequisiteAnnotators: transitive closure over the DAG
        need: set[str] = set()

        def add(a: str):
            if a in need:
                return
            for r in _REQUIRES[a]:
                add(r)
            need.add(a)

        for a in requested:
            add(a)
        self.annotators = need
        self.props = properties or {}

    # -- stage runners -----------------------------------------------------
    def __call__(self, docs: DataFrame) -> DataFrame:
        """docs → annotated DataFrame with the columns the requested
        annotator set provides.

        Doc-shaped annotators (tokenize…coref, quote, truecase) add columns
        here; row-shaped outputs are reached through the dedicated accessors
        (.mentions/.triples/.entailed/.links/.genders/.kbp/.json) — every
        annotator accepted at construction has an execution path."""
        from corenlp_spark.operators.sutime import with_docdate
        from corenlp_spark.plans.fused import annotate

        df = docs
        a = self.annotators
        if "docdate" in a or "sutime" in a:
            df = with_docdate(df, fixed=self.props.get("docdate.fixed"),
                              from_tags=bool(self.props.get("docdate.useTags")))
        # the deepest requested layer picks the cut of the one fused kernel
        upto = next((cut for cut, names in _CUTS if names & a), None)
        if upto is not None:
            df = annotate(df, upto, self.props.get("tokenize.options"),
                          sutime="sutime" in a)
            if upto == "coref" and "depparse" not in a:
                df = df.drop("deps")  # coref alone does not provide a parse
        # doc-shaped auxiliary annotators ride on the document row like any
        # other stage (ADVICE r2: a requested annotator must never be a
        # silent no-op). Row-shaped outputs (entitymentions/entitylink/
        # gender/openie/kbp/entail) have dedicated accessors below — __call__
        # keeps the docs shape, as the reference's annotate() keeps the
        # Annotation shape.
        from corenlp_spark.operators.aux_annotators import (
            quote_docs, truecase_docs,
        )

        if "quote" in a:
            df = quote_docs(df)
        if "truecase" in a:
            df = truecase_docs(df)
        return df

    def triples(self, docs: DataFrame) -> DataFrame:
        """docs → OpenIE triples (requires 'openie' in the annotator set)."""
        if "openie" not in self.annotators:
            raise ValueError("pipeline was not configured with 'openie'")
        from corenlp_spark.plans.fused import extract_triples_fused

        return extract_triples_fused(
            docs, canonicalize="coref" in self.annotators,
            options=self.props.get("tokenize.options"))

    def mentions(self, docs: DataFrame) -> DataFrame:
        from corenlp_spark.operators.mentions import mention_rows

        return mention_rows(self(docs))

    def entailed(self, docs: DataFrame) -> DataFrame:
        if "entail" not in self.annotators and "openie" not in self.annotators:
            raise ValueError("pipeline was not configured with 'entail'")
        from corenlp_spark.operators.entail import entailed_docs

        return entailed_docs(self(docs))

    def links(self, docs: DataFrame, aliases: DataFrame | None = None) -> DataFrame:
        """docs → entity-linked mentions (WikidictAnnotator semantics)."""
        if "entitylink" not in self.annotators:
            raise ValueError("pipeline was not configured with 'entitylink'")
        from corenlp_spark.operators.entitylink import alias_dict, link_mentions

        mentions = self.mentions(docs)
        if aliases is None:
            aliases = alias_dict(mentions.sparkSession)
        return link_mentions(mentions, aliases)

    def genders(self, docs: DataFrame) -> DataFrame:
        """docs → PERSON mentions + gender column (GenderAnnotator)."""
        if "gender" not in self.annotators:
            raise ValueError("pipeline was not configured with 'gender'")
        from corenlp_spark.operators.aux_annotators import gender_mentions

        return gender_mentions(self.mentions(docs))

    def kbp(self, docs: DataFrame) -> DataFrame:
        """docs → KBP relations via the 3-arm max-confidence ensemble."""
        if "kbp" not in self.annotators:
            raise ValueError("pipeline was not configured with 'kbp'")
        from corenlp_spark.operators.kbp import kbp_arm_rows, kbp_ensemble

        return kbp_ensemble(kbp_arm_rows(self(docs)))

    def sentiments(self, docs: DataFrame) -> DataFrame:
        """Per-sentence 5-class sentiment rows (SentimentAnnotator analog)."""
        from corenlp_spark.operators.sentiment import sentiment_docs

        return sentiment_docs(docs, self.props.get("tokenize.options"))

    def json(self, docs: DataFrame) -> DataFrame:
        """CoreNLP-JSON outputter over the annotated docs."""
        from corenlp_spark.sources.json_out import to_corenlp_json

        return to_corenlp_json(self(docs))


def annotate_text(spark, text: str,
                  annotators: str = "tokenize,ssplit,pos,lemma,ner") -> dict:
    """The `simple` API analog (simple/Document.java:39): one string in,
    one CoreNLP-JSON document out (driver-side convenience; the DataFrame
    path above is the scale path)."""
    import json

    from corenlp_spark.data.synth import text_docs

    docs = text_docs(spark, ["doc"], [text])
    pipe = Pipeline(annotators + ",depparse,coref")
    return json.loads(pipe.json(docs).first().json)
