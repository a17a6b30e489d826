"""Hand-annotated gold dependency treebank (UD v2 guidelines, engine-flavored
relation conventions) — the REAL training signal for the arc-standard parser.

Why this exists (VERDICT r2 #1): the r2 parser was distilled from the
engine's own rule parser, a teacher-student circle whose held-out gate could
never detect teacher errors. These trees are authored by hand against the
public Universal Dependencies guidelines (the same standard CoreNLP's
``trees/UniversalEnglishGrammaticalStructure.java`` targets), NOT produced by
any parser in this repo. Conventions follow the engine's enhanced-style
output contract so downstream OpenIE consumes either parser unchanged:

  - case-collapsed nominal modifiers: ``nmod:<case-lemma>`` with the
    adposition attached as ``case`` to the nominal
    (UniversalEnglishGrammaticalStructure.java:211-268);
  - copula: the predicate nominal/adjective is the root, ``cop`` on the
    copula, subject attaches to the predicate;
  - passives: ``nsubj:pass`` / ``aux:pass``;
  - relative clauses: ``acl:relcl`` on the modified nominal (the prefix
    matcher in openie treats ``acl:relcl`` as ``acl``);
  - control/raising: ``xcomp`` + ``mark`` on the infinitival ``to``;
  - names: ``compound`` with the final token as head (the engine's NP-chunk
    head convention).

Format: one string per sentence, one token per line, ``form xpos head rel``
(head 1-based, 0 = root). ``load()`` validates every tree (index range,
single root, projectivity via the arc-standard static oracle) and returns
``[(words, xpos, edges)]`` with edges in the engine's ``(head, dep, rel)``
0-based / root -1 encoding.

Split discipline: ``train()`` and ``heldout()`` are disjoint by sentence;
the held-out half is never seen by training (tests/test_models.py gates UAS
against it — a gate that CAN detect rule-parser errors, unlike r2's
distillation gate).
"""

from __future__ import annotations

_SENTS: list[str] = [
    # ------------------------------------------------------------------
    # simple transitives / intransitives
    # ------------------------------------------------------------------
    """The engineer wrote a report .
    The DT 2 det
    engineer NN 3 nsubj
    wrote VBD 0 root
    a DT 5 det
    report NN 3 obj
    . . 3 punct""",
    """A manager signed the contract .
    A DT 2 det
    manager NN 3 nsubj
    signed VBD 0 root
    the DT 5 det
    contract NN 3 obj
    . . 3 punct""",
    """The committee approved the budget .
    The DT 2 det
    committee NN 3 nsubj
    approved VBD 0 root
    the DT 5 det
    budget NN 3 obj
    . . 3 punct""",
    """Investors bought shares .
    Investors NNS 2 nsubj
    bought VBD 0 root
    shares NNS 2 obj
    . . 2 punct""",
    """The children slept .
    The DT 2 det
    children NNS 3 nsubj
    slept VBD 0 root
    . . 3 punct""",
    """Prices fell sharply .
    Prices NNS 2 nsubj
    fell VBD 0 root
    sharply RB 2 advmod
    . . 2 punct""",
    """The tall engineer quickly wrote three reports .
    The DT 3 det
    tall JJ 3 amod
    engineer NN 5 nsubj
    quickly RB 5 advmod
    wrote VBD 0 root
    three CD 7 nummod
    reports NNS 5 obj
    . . 5 punct""",
    """The old professor taught a difficult course .
    The DT 3 det
    old JJ 3 amod
    professor NN 4 nsubj
    taught VBD 0 root
    a DT 7 det
    difficult JJ 7 amod
    course NN 4 obj
    . . 4 punct""",
    """The software company hired two hundred engineers .
    The DT 3 det
    software NN 3 compound
    company NN 4 nsubj
    hired VBD 0 root
    two CD 6 compound
    hundred CD 7 nummod
    engineers NNS 4 obj
    . . 4 punct""",
    """Barack Obama visited Berlin .
    Barack NNP 2 compound
    Obama NNP 3 nsubj
    visited VBD 0 root
    Berlin NNP 3 obj
    . . 3 punct""",
    # ------------------------------------------------------------------
    # prepositional attachment (nmod:<case>)
    # ------------------------------------------------------------------
    """The team worked in Berlin .
    The DT 2 det
    team NN 3 nsubj
    worked VBD 0 root
    in IN 5 case
    Berlin NNP 3 nmod:in
    . . 3 punct""",
    """She lived in Paris for years .
    She PRP 2 nsubj
    lived VBD 0 root
    in IN 4 case
    Paris NNP 2 nmod:in
    for IN 6 case
    years NNS 2 nmod:for
    . . 2 punct""",
    """Apple hired engineers from Google .
    Apple NNP 2 nsubj
    hired VBD 0 root
    engineers NNS 2 obj
    from IN 5 case
    Google NNP 2 nmod:from
    . . 2 punct""",
    """The company opened offices in Berlin .
    The DT 2 det
    company NN 3 nsubj
    opened VBD 0 root
    offices NNS 3 obj
    in IN 6 case
    Berlin NNP 3 nmod:in
    . . 3 punct""",
    """He traveled to Rome with a friend .
    He PRP 2 nsubj
    traveled VBD 0 root
    to IN 4 case
    Rome NNP 2 nmod:to
    with IN 7 case
    a DT 7 det
    friend NN 2 nmod:with
    . . 2 punct""",
    """The book on the table belongs to Mary .
    The DT 2 det
    book NN 6 nsubj
    on IN 5 case
    the DT 5 det
    table NN 2 nmod:on
    belongs VBZ 0 root
    to IN 8 case
    Mary NNP 6 nmod:to
    . . 6 punct""",
    """Students from the university attended the lecture .
    Students NNS 5 nsubj
    from IN 4 case
    the DT 4 det
    university NN 1 nmod:from
    attended VBD 0 root
    the DT 7 det
    lecture NN 5 obj
    . . 5 punct""",
    """Chris Manning works for Stanford University .
    Chris NNP 2 compound
    Manning NNP 3 nsubj
    works VBZ 0 root
    for IN 6 case
    Stanford NNP 6 compound
    University NNP 3 nmod:for
    . . 3 punct""",
    """The startup raised money from investors in 2021 .
    The DT 2 det
    startup NN 3 nsubj
    raised VBD 0 root
    money NN 3 obj
    from IN 6 case
    investors NNS 3 nmod:from
    in IN 8 case
    2021 CD 3 nmod:in
    . . 3 punct""",
    """Marie Curie discovered polonium in 1898 .
    Marie NNP 2 compound
    Curie NNP 3 nsubj
    discovered VBD 0 root
    polonium NN 3 obj
    in IN 6 case
    1898 CD 3 nmod:in
    . . 3 punct""",
    # ------------------------------------------------------------------
    # copula constructions (predicate is root)
    # ------------------------------------------------------------------
    """Sydney is a large city .
    Sydney NNP 5 nsubj
    is VBZ 5 cop
    a DT 5 det
    large JJ 5 amod
    city NN 0 root
    . . 5 punct""",
    """The results were surprising .
    The DT 2 det
    results NNS 4 nsubj
    were VBD 4 cop
    surprising JJ 0 root
    . . 4 punct""",
    """He was president .
    He PRP 3 nsubj
    was VBD 3 cop
    president NN 0 root
    . . 3 punct""",
    """Obama is a graduate of Columbia University .
    Obama NNP 4 nsubj
    is VBZ 4 cop
    a DT 4 det
    graduate NN 0 root
    of IN 7 case
    Columbia NNP 7 compound
    University NNP 4 nmod:of
    . . 4 punct""",
    """Chess is a physical sport .
    Chess NNP 5 nsubj
    is VBZ 5 cop
    a DT 5 det
    physical JJ 5 amod
    sport NN 0 root
    . . 5 punct""",
    """The meeting was on Friday .
    The DT 2 det
    meeting NN 5 nsubj
    was VBD 5 cop
    on IN 5 case
    Friday NNP 0 root
    . . 5 punct""",
    """Her answer was correct .
    Her PRP$ 2 nmod:poss
    answer NN 4 nsubj
    was VBD 4 cop
    correct JJ 0 root
    . . 4 punct""",
    """Stanford University is located in California .
    Stanford NNP 2 compound
    University NNP 4 nsubj:pass
    is VBZ 4 aux:pass
    located VBN 0 root
    in IN 6 case
    California NNP 4 nmod:in
    . . 4 punct""",
    # ------------------------------------------------------------------
    # passives
    # ------------------------------------------------------------------
    """The contract was signed by the manager .
    The DT 2 det
    contract NN 4 nsubj:pass
    was VBD 4 aux:pass
    signed VBN 0 root
    by IN 7 case
    the DT 7 det
    manager NN 4 nmod:by
    . . 4 punct""",
    """Barack Obama was born in Hawaii .
    Barack NNP 2 compound
    Obama NNP 4 nsubj:pass
    was VBD 4 aux:pass
    born VBN 0 root
    in IN 6 case
    Hawaii NNP 4 nmod:in
    . . 4 punct""",
    """The building was destroyed by the fire .
    The DT 2 det
    building NN 4 nsubj:pass
    was VBD 4 aux:pass
    destroyed VBN 0 root
    by IN 7 case
    the DT 7 det
    fire NN 4 nmod:by
    . . 4 punct""",
    """The results were published in a journal .
    The DT 2 det
    results NNS 4 nsubj:pass
    were VBD 4 aux:pass
    published VBN 0 root
    in IN 7 case
    a DT 7 det
    journal NN 4 nmod:in
    . . 4 punct""",
    """IBM is headquartered in Armonk .
    IBM NNP 3 nsubj:pass
    is VBZ 3 aux:pass
    headquartered VBN 0 root
    in IN 5 case
    Armonk NNP 3 nmod:in
    . . 3 punct""",
    """The law was passed in 2019 .
    The DT 2 det
    law NN 4 nsubj:pass
    was VBD 4 aux:pass
    passed VBN 0 root
    in IN 6 case
    2019 CD 4 nmod:in
    . . 4 punct""",
    # ------------------------------------------------------------------
    # possessives
    # ------------------------------------------------------------------
    """IBM 's research group works well .
    IBM NNP 4 nmod:poss
    's POS 1 case
    research NN 4 compound
    group NN 5 nsubj
    works VBZ 0 root
    well RB 5 advmod
    . . 5 punct""",
    """The company 's founder resigned .
    The DT 2 det
    company NN 4 nmod:poss
    's POS 2 case
    founder NN 5 nsubj
    resigned VBD 0 root
    . . 5 punct""",
    """Mary 's brother teaches history .
    Mary NNP 3 nmod:poss
    's POS 1 case
    brother NN 4 nsubj
    teaches VBZ 0 root
    history NN 4 obj
    . . 4 punct""",
    """His sister studied medicine in Paris .
    His PRP$ 2 nmod:poss
    sister NN 3 nsubj
    studied VBD 0 root
    medicine NN 3 obj
    in IN 6 case
    Paris NNP 3 nmod:in
    . . 3 punct""",
    # ------------------------------------------------------------------
    # relative clauses (acl:relcl; who/that/which inside the clause)
    # ------------------------------------------------------------------
    """The cat that chased the mouse ran away .
    The DT 2 det
    cat NN 7 nsubj
    that WDT 4 nsubj
    chased VBD 2 acl:relcl
    the DT 6 det
    mouse NN 4 obj
    ran VBD 0 root
    away RB 7 advmod
    . . 7 punct""",
    """The engineer who designed the bridge retired .
    The DT 2 det
    engineer NN 7 nsubj
    who WP 4 nsubj
    designed VBD 2 acl:relcl
    the DT 6 det
    bridge NN 4 obj
    retired VBD 0 root
    . . 7 punct""",
    """The book that she wrote won a prize .
    The DT 2 det
    book NN 6 nsubj
    that WDT 5 obj
    she PRP 5 nsubj
    wrote VBD 2 acl:relcl
    won VBD 0 root
    a DT 8 det
    prize NN 6 obj
    . . 6 punct""",
    """The company which acquired the startup grew fast .
    The DT 2 det
    company NN 7 nsubj
    which WDT 4 nsubj
    acquired VBD 2 acl:relcl
    the DT 6 det
    startup NN 4 obj
    grew VBD 0 root
    fast RB 7 advmod
    . . 7 punct""",
    """The woman who won the race smiled .
    The DT 2 det
    woman NN 7 nsubj
    who WP 4 nsubj
    won VBD 2 acl:relcl
    the DT 6 det
    race NN 4 obj
    smiled VBD 0 root
    . . 7 punct""",
    """A scientist who studies climate spoke today .
    A DT 2 det
    scientist NN 6 nsubj
    who WP 4 nsubj
    studies VBZ 2 acl:relcl
    climate NN 4 obj
    spoke VBD 0 root
    today NN 6 nmod:tmod
    . . 6 punct""",
    # ------------------------------------------------------------------
    # coordination
    # ------------------------------------------------------------------
    """Mary and John visited Paris and Rome .
    Mary NNP 4 nsubj
    and CC 3 cc
    John NNP 1 conj
    visited VBD 0 root
    Paris NNP 4 obj
    and CC 7 cc
    Rome NNP 5 conj
    . . 4 punct""",
    """Tom and Jerry have tails .
    Tom NNP 4 nsubj
    and CC 3 cc
    Jerry NNP 1 conj
    have VBP 0 root
    tails NNS 4 obj
    . . 4 punct""",
    """He worked as an attorney and taught law .
    He PRP 2 nsubj
    worked VBD 0 root
    as IN 5 case
    an DT 5 det
    attorney NN 2 nmod:as
    and CC 7 cc
    taught VBD 2 conj
    law NN 7 obj
    . . 2 punct""",
    """The report was short and clear .
    The DT 2 det
    report NN 4 nsubj
    was VBD 4 cop
    short JJ 0 root
    and CC 6 cc
    clear JJ 4 conj
    . . 4 punct""",
    """Obama visited and praised Paris .
    Obama NNP 2 nsubj
    visited VBD 0 root
    and CC 4 cc
    praised VBD 2 conj
    Paris NNP 2 obj
    . . 2 punct""",
    """She bought apples , pears and plums .
    She PRP 2 nsubj
    bought VBD 0 root
    apples NNS 2 obj
    , , 5 punct
    pears NNS 3 conj
    and CC 7 cc
    plums NNS 3 conj
    . . 2 punct""",
    # ------------------------------------------------------------------
    # clausal complements: ccomp / xcomp / mark
    # ------------------------------------------------------------------
    """She said that he won the race .
    She PRP 2 nsubj
    said VBD 0 root
    that IN 5 mark
    he PRP 5 nsubj
    won VBD 2 ccomp
    the DT 7 det
    race NN 5 obj
    . . 2 punct""",
    """He wants to leave early .
    He PRP 2 nsubj
    wants VBZ 0 root
    to TO 4 mark
    leave VB 2 xcomp
    early RB 4 advmod
    . . 2 punct""",
    """They decided to sell the company .
    They PRP 2 nsubj
    decided VBD 0 root
    to TO 4 mark
    sell VB 2 xcomp
    the DT 6 det
    company NN 4 obj
    . . 2 punct""",
    """The manager promised to review the budget .
    The DT 2 det
    manager NN 3 nsubj
    promised VBD 0 root
    to TO 5 mark
    review VB 3 xcomp
    the DT 7 det
    budget NN 5 obj
    . . 3 punct""",
    """Everyone knows that the earth is round .
    Everyone NN 2 nsubj
    knows VBZ 0 root
    that IN 7 mark
    the DT 5 det
    earth NN 7 nsubj
    is VBZ 7 cop
    round JJ 2 ccomp
    . . 2 punct""",
    """She began to write a novel .
    She PRP 2 nsubj
    began VBD 0 root
    to TO 4 mark
    write VB 2 xcomp
    a DT 6 det
    novel NN 4 obj
    . . 2 punct""",
    # ------------------------------------------------------------------
    # appositives
    # ------------------------------------------------------------------
    """John , the founder , resigned .
    John NNP 6 nsubj
    , , 4 punct
    the DT 4 det
    founder NN 1 appos
    , , 4 punct
    resigned VBD 0 root
    . . 6 punct""",
    """Paris , the capital of France , is old .
    Paris NNP 9 nsubj
    , , 4 punct
    the DT 4 det
    capital NN 1 appos
    of IN 6 case
    France NNP 4 nmod:of
    , , 4 punct
    is VBZ 9 cop
    old JJ 0 root
    . . 9 punct""",
    """My friend Alice moved to Rome .
    My PRP$ 2 nmod:poss
    friend NN 4 nsubj
    Alice NNP 2 appos
    moved VBD 0 root
    to IN 6 case
    Rome NNP 4 nmod:to
    . . 4 punct""",
    # ------------------------------------------------------------------
    # existentials
    # ------------------------------------------------------------------
    """There are cats with tails .
    There EX 3 expl
    are VBP 3 cop
    cats NNS 0 root
    with IN 5 case
    tails NNS 3 nmod:with
    . . 3 punct""",
    """There is a meeting on Friday .
    There EX 4 expl
    is VBZ 4 cop
    a DT 4 det
    meeting NN 0 root
    on IN 6 case
    Friday NNP 4 nmod:on
    . . 4 punct""",
    """There were many problems in the report .
    There EX 4 expl
    were VBD 4 cop
    many JJ 4 amod
    problems NNS 0 root
    in IN 7 case
    the DT 7 det
    report NN 4 nmod:in
    . . 4 punct""",
    # ------------------------------------------------------------------
    # auxiliaries, modals, negation
    # ------------------------------------------------------------------
    """He can swim .
    He PRP 3 nsubj
    can MD 3 aux
    swim VB 0 root
    . . 3 punct""",
    """They will announce the results tomorrow .
    They PRP 3 nsubj
    will MD 3 aux
    announce VB 0 root
    the DT 5 det
    results NNS 3 obj
    tomorrow NN 3 nmod:tmod
    . . 3 punct""",
    """John did not see Sara .
    John NNP 4 nsubj
    did VBD 4 aux
    not RB 4 advmod
    see VB 0 root
    Sara NNP 4 obj
    . . 4 punct""",
    """She has finished the project .
    She PRP 3 nsubj
    has VBZ 3 aux
    finished VBN 0 root
    the DT 5 det
    project NN 3 obj
    . . 3 punct""",
    """The team is playing well .
    The DT 2 det
    team NN 4 nsubj
    is VBZ 4 aux
    playing VBG 0 root
    well RB 4 advmod
    . . 4 punct""",
    """He does not like meetings .
    He PRP 4 nsubj
    does VBZ 4 aux
    not RB 4 advmod
    like VB 0 root
    meetings NNS 4 obj
    . . 4 punct""",
    """We must protect the environment .
    We PRP 3 nsubj
    must MD 3 aux
    protect VB 0 root
    the DT 5 det
    environment NN 3 obj
    . . 3 punct""",
    # ------------------------------------------------------------------
    # ditransitives and small clauses
    # ------------------------------------------------------------------
    """She gave him the book .
    She PRP 2 nsubj
    gave VBD 0 root
    him PRP 2 iobj
    the DT 5 det
    book NN 2 obj
    . . 2 punct""",
    """The teacher sent the students a letter .
    The DT 2 det
    teacher NN 3 nsubj
    sent VBD 0 root
    the DT 5 det
    students NNS 3 iobj
    a DT 7 det
    letter NN 3 obj
    . . 3 punct""",
    """They offered her a position .
    They PRP 2 nsubj
    offered VBD 0 root
    her PRP 2 iobj
    a DT 5 det
    position NN 2 obj
    . . 2 punct""",
    # ------------------------------------------------------------------
    # longer mixed sentences
    # ------------------------------------------------------------------
    """The research group published results in a famous journal .
    The DT 3 det
    research NN 3 compound
    group NN 4 nsubj
    published VBD 0 root
    results NNS 4 obj
    in IN 9 case
    a DT 9 det
    famous JJ 9 amod
    journal NN 4 nmod:in
    . . 4 punct""",
    """International Business Machines announced earnings on Monday .
    International NNP 3 compound
    Business NNP 3 compound
    Machines NNP 4 nsubj
    announced VBD 0 root
    earnings NNS 4 obj
    on IN 7 case
    Monday NNP 4 nmod:on
    . . 4 punct""",
    """He was a community organizer in Chicago .
    He PRP 5 nsubj
    was VBD 5 cop
    a DT 5 det
    community NN 5 compound
    organizer NN 0 root
    in IN 7 case
    Chicago NNP 5 nmod:in
    . . 5 punct""",
    """The quick brown fox jumps over the lazy dog .
    The DT 4 det
    quick JJ 4 amod
    brown JJ 4 amod
    fox NN 5 nsubj
    jumps VBZ 0 root
    over IN 9 case
    the DT 9 det
    lazy JJ 9 amod
    dog NN 5 nmod:over
    . . 5 punct""",
    """She won the Nobel Prize yesterday .
    She PRP 2 nsubj
    won VBD 0 root
    the DT 5 det
    Nobel NNP 5 compound
    Prize NNP 2 obj
    yesterday NN 2 nmod:tmod
    . . 2 punct""",
    """The government raised taxes after the election .
    The DT 2 det
    government NN 3 nsubj
    raised VBD 0 root
    taxes NNS 3 obj
    after IN 7 case
    the DT 7 det
    election NN 3 nmod:after
    . . 3 punct""",
    """A small team of engineers built the system .
    A DT 3 det
    small JJ 3 amod
    team NN 6 nsubj
    of IN 5 case
    engineers NNS 3 nmod:of
    built VBD 0 root
    the DT 8 det
    system NN 6 obj
    . . 6 punct""",
    """The mayor of Berlin opened the new museum .
    The DT 2 det
    mayor NN 5 nsubj
    of IN 4 case
    Berlin NNP 2 nmod:of
    opened VBD 0 root
    the DT 8 det
    new JJ 8 amod
    museum NN 5 obj
    . . 5 punct""",
    """Researchers at the institute developed a vaccine .
    Researchers NNS 5 nsubj
    at IN 4 case
    the DT 4 det
    institute NN 1 nmod:at
    developed VBD 0 root
    a DT 7 det
    vaccine NN 5 obj
    . . 5 punct""",
    """He served three terms in the senate .
    He PRP 2 nsubj
    served VBD 0 root
    three CD 4 nummod
    terms NNS 2 obj
    in IN 7 case
    the DT 7 det
    senate NN 2 nmod:in
    . . 2 punct""",
    """The bank lowered interest rates last month .
    The DT 2 det
    bank NN 3 nsubj
    lowered VBD 0 root
    interest NN 5 compound
    rates NNS 3 obj
    last JJ 7 amod
    month NN 3 nmod:tmod
    . . 3 punct""",
    """Many students read books in the library .
    Many JJ 2 amod
    students NNS 3 nsubj
    read VBP 0 root
    books NNS 3 obj
    in IN 7 case
    the DT 7 det
    library NN 3 nmod:in
    . . 3 punct""",
    """The festival attracted visitors from many countries .
    The DT 2 det
    festival NN 3 nsubj
    attracted VBD 0 root
    visitors NNS 3 obj
    from IN 7 case
    many JJ 7 amod
    countries NNS 3 nmod:from
    . . 3 punct""",
    """Heavy rain delayed the flight to London .
    Heavy JJ 2 amod
    rain NN 3 nsubj
    delayed VBD 0 root
    the DT 5 det
    flight NN 3 obj
    to IN 7 case
    London NNP 5 nmod:to
    . . 3 punct""",
    """The author described the city in great detail .
    The DT 2 det
    author NN 3 nsubj
    described VBD 0 root
    the DT 5 det
    city NN 3 obj
    in IN 8 case
    great JJ 8 amod
    detail NN 3 nmod:in
    . . 3 punct""",
    """Obama attended Harvard Law School .
    Obama NNP 2 nsubj
    attended VBD 0 root
    Harvard NNP 5 compound
    Law NNP 5 compound
    School NNP 2 obj
    . . 2 punct""",
    """The committee met on Tuesday to discuss the plan .
    The DT 2 det
    committee NN 3 nsubj
    met VBD 0 root
    on IN 5 case
    Tuesday NNP 3 nmod:on
    to TO 7 mark
    discuss VB 3 advcl
    the DT 9 det
    plan NN 7 obj
    . . 3 punct""",
    """Her team presented the findings at the conference .
    Her PRP$ 2 nmod:poss
    team NN 3 nsubj
    presented VBD 0 root
    the DT 5 det
    findings NNS 3 obj
    at IN 8 case
    the DT 8 det
    conference NN 3 nmod:at
    . . 3 punct""",
    """The old bridge over the river collapsed yesterday .
    The DT 3 det
    old JJ 3 amod
    bridge NN 7 nsubj
    over IN 6 case
    the DT 6 det
    river NN 3 nmod:over
    collapsed VBD 0 root
    yesterday NN 7 nmod:tmod
    . . 7 punct""",
    """Scientists discovered a new species in the forest .
    Scientists NNS 2 nsubj
    discovered VBD 0 root
    a DT 5 det
    new JJ 5 amod
    species NN 2 obj
    in IN 8 case
    the DT 8 det
    forest NN 2 nmod:in
    . . 2 punct""",
    """The city built a new stadium for the games .
    The DT 2 det
    city NN 3 nsubj
    built VBD 0 root
    a DT 6 det
    new JJ 6 amod
    stadium NN 3 obj
    for IN 9 case
    the DT 9 det
    games NNS 3 nmod:for
    . . 3 punct""",
    """His latest film received excellent reviews .
    His PRP$ 3 nmod:poss
    latest JJ 3 amod
    film NN 4 nsubj
    received VBD 0 root
    excellent JJ 6 amod
    reviews NNS 4 obj
    . . 4 punct""",
    """The union rejected the offer after long talks .
    The DT 2 det
    union NN 3 nsubj
    rejected VBD 0 root
    the DT 5 det
    offer NN 3 obj
    after IN 8 case
    long JJ 8 amod
    talks NNS 3 nmod:after
    . . 3 punct""",
    """A large crowd gathered near the station .
    A DT 3 det
    large JJ 3 amod
    crowd NN 4 nsubj
    gathered VBD 0 root
    near IN 7 case
    the DT 7 det
    station NN 4 nmod:near
    . . 4 punct""",
    """The journalist interviewed the minister about the crisis .
    The DT 2 det
    journalist NN 3 nsubj
    interviewed VBD 0 root
    the DT 5 det
    minister NN 3 obj
    about IN 8 case
    the DT 8 det
    crisis NN 3 nmod:about
    . . 3 punct""",
    """Several countries signed the climate agreement in December .
    Several JJ 2 amod
    countries NNS 3 nsubj
    signed VBD 0 root
    the DT 6 det
    climate NN 6 compound
    agreement NN 3 obj
    in IN 8 case
    December NNP 3 nmod:in
    . . 3 punct""",
    """The young artist painted a portrait of the queen .
    The DT 3 det
    young JJ 3 amod
    artist NN 4 nsubj
    painted VBD 0 root
    a DT 6 det
    portrait NN 4 obj
    of IN 9 case
    the DT 9 det
    queen NN 6 nmod:of
    . . 4 punct""",
    # ------------------------------------------------------------------
    # sentence-initial temporal PPs (the GeorgeBoyd shape: "On DATE NAME
    # VERB..." — the date attaches to the verb, never into the subject NP)
    # ------------------------------------------------------------------
    # date-chunk head = LAST token (the engine's NP-chunk head convention;
    # openie's np_tokens glosses the whole chunk either way)
    """On 21 February 2013 George Boyd joined on loan .
    On IN 4 case
    21 CD 4 nummod
    February NNP 4 compound
    2013 CD 7 nmod:on
    George NNP 6 compound
    Boyd NNP 7 nsubj
    joined VBD 0 root
    on IN 9 case
    loan NN 7 nmod:on
    . . 7 punct""",
    """On 3 March 2015 Anna Smith joined the board .
    On IN 4 case
    3 CD 4 nummod
    March NNP 4 compound
    2015 CD 7 nmod:on
    Anna NNP 6 compound
    Smith NNP 7 nsubj
    joined VBD 0 root
    the DT 9 det
    board NN 7 obj
    . . 7 punct""",
    """In March 2020 the company opened offices .
    In IN 3 case
    March NNP 3 compound
    2020 CD 6 nmod:in
    the DT 5 det
    company NN 6 nsubj
    opened VBD 0 root
    offices NNS 6 obj
    . . 6 punct""",
    """In 1898 Marie Curie discovered polonium .
    In IN 2 case
    1898 CD 5 nmod:in
    Marie NNP 4 compound
    Curie NNP 5 nsubj
    discovered VBD 0 root
    polonium NN 5 obj
    . . 5 punct""",
    """After the election the government raised taxes .
    After IN 3 case
    the DT 3 det
    election NN 6 nmod:after
    the DT 5 det
    government NN 6 nsubj
    raised VBD 0 root
    taxes NNS 6 obj
    . . 6 punct""",
    # ------------------------------------------------------------------
    # conjoined VPs incl. passive second conjunct (ObamaWikiSix shape)
    # ------------------------------------------------------------------
    """He won the game , and was praised by fans .
    He PRP 2 nsubj
    won VBD 0 root
    the DT 4 det
    game NN 2 obj
    , , 8 punct
    and CC 8 cc
    was VBD 8 aux:pass
    praised VBN 2 conj
    by IN 10 case
    fans NNS 8 nmod:by
    . . 2 punct""",
    """She defeated her rival , and was elected as mayor .
    She PRP 2 nsubj
    defeated VBD 0 root
    her PRP$ 4 nmod:poss
    rival NN 2 obj
    , , 8 punct
    and CC 8 cc
    was VBD 8 aux:pass
    elected VBN 2 conj
    as IN 10 case
    mayor NN 8 nmod:as
    . . 2 punct""",
    """He worked as an attorney and taught law at the university .
    He PRP 2 nsubj
    worked VBD 0 root
    as IN 5 case
    an DT 5 det
    attorney NN 2 nmod:as
    and CC 7 cc
    taught VBD 2 conj
    law NN 7 obj
    at IN 11 case
    the DT 11 det
    university NN 7 nmod:at
    . . 2 punct""",
    """The board approved the plan and rejected the merger in May .
    The DT 2 det
    board NN 3 nsubj
    approved VBD 0 root
    the DT 5 det
    plan NN 3 obj
    and CC 7 cc
    rejected VBD 3 conj
    the DT 9 det
    merger NN 7 obj
    in IN 11 case
    May NNP 7 nmod:in
    . . 3 punct""",
    # ------------------------------------------------------------------
    # fronted participial clauses (ObamaWikiTwo shape)
    # ------------------------------------------------------------------
    """Born in Hamburg , she moved to Berlin .
    Born VBN 6 advcl
    in IN 3 case
    Hamburg NNP 1 nmod:in
    , , 6 punct
    she PRP 6 nsubj
    moved VBD 0 root
    to IN 8 case
    Berlin NNP 6 nmod:to
    . . 6 punct""",
    """Born in Honolulu , Hawaii , Obama is a graduate .
    Born VBN 10 advcl
    in IN 3 case
    Honolulu NNP 1 nmod:in
    , , 5 punct
    Hawaii NNP 3 appos
    , , 10 punct
    Obama NNP 10 nsubj
    is VBZ 10 cop
    a DT 10 det
    graduate NN 0 root
    . . 10 punct""",
    """Trained in Vienna , the pianist toured Europe .
    Trained VBN 7 advcl
    in IN 3 case
    Vienna NNP 1 nmod:in
    , , 7 punct
    the DT 6 det
    pianist NN 7 nsubj
    toured VBD 0 root
    Europe NNP 7 obj
    . . 7 punct""",
    # ------------------------------------------------------------------
    # gerund adverbial clauses with a subordinator (ObamaWikiThree shape)
    # ------------------------------------------------------------------
    """He worked in Chicago before earning his degree .
    He PRP 2 nsubj
    worked VBD 0 root
    in IN 4 case
    Chicago NNP 2 nmod:in
    before IN 6 mark
    earning VBG 2 advcl
    his PRP$ 8 nmod:poss
    degree NN 6 obj
    . . 2 punct""",
    """She traveled widely after finishing the project .
    She PRP 2 nsubj
    traveled VBD 0 root
    widely RB 2 advmod
    after IN 5 mark
    finishing VBG 2 advcl
    the DT 7 det
    project NN 5 obj
    . . 2 punct""",
    """They celebrated after winning the final .
    They PRP 2 nsubj
    celebrated VBD 0 root
    after IN 4 mark
    winning VBG 2 advcl
    the DT 6 det
    final NN 4 obj
    . . 2 punct""",
    # ------------------------------------------------------------------
    # NP-internal adjective coordination (ObamaWikiOne shape: "the 44th and
    # current President of ..." — both adjectives stay inside the NP, the
    # nominal is the copula root)
    # ------------------------------------------------------------------
    """She is the first and only champion of the league .
    She PRP 7 nsubj
    is VBZ 7 cop
    the DT 7 det
    first JJ 7 amod
    and CC 7 cc
    only JJ 7 amod
    champion NN 0 root
    of IN 10 case
    the DT 10 det
    league NN 7 nmod:of
    . . 7 punct""",
    """He is the 44th and current President of the United States .
    He PRP 7 nsubj
    is VBZ 7 cop
    the DT 7 det
    44th JJ 7 amod
    and CC 7 cc
    current JJ 7 amod
    President NNP 0 root
    of IN 11 case
    the DT 11 det
    United NNP 11 compound
    States NNPS 7 nmod:of
    . . 7 punct""",
    """The tall and strong athlete won the race .
    The DT 5 det
    tall JJ 5 amod
    and CC 5 cc
    strong JJ 5 amod
    athlete NN 6 nsubj
    won VBD 0 root
    the DT 8 det
    race NN 6 obj
    . . 6 punct""",
    """Obama spoke .
    Obama NNP 2 nsubj
    spoke VBD 0 root
    . . 2 punct""",
    """The group grew quickly .
    The DT 2 det
    group NN 3 nsubj
    grew VBD 0 root
    quickly RB 3 advmod
    . . 3 punct""",
    """All rabbits eat vegetables .
    All DT 2 det
    rabbits NNS 3 nsubj
    eat VBP 0 root
    vegetables NNS 3 obj
    . . 3 punct""",
    """Some cats have tails .
    Some DT 2 det
    cats NNS 3 nsubj
    have VBP 0 root
    tails NNS 3 obj
    . . 3 punct""",
    # ------------------------------------------------------------------
    # r3 tranche: quantifier determiners, negation, temporal NPs,
    # possessive pronouns, passives with by-agents, of-PP appositives
    # ------------------------------------------------------------------
    """Most cats have tails .
    Most JJS 2 det
    cats NNS 3 nsubj
    have VBP 0 root
    tails NNS 3 obj
    . . 3 punct""",
    """No politician likes taxes .
    No DT 2 det
    politician NN 3 nsubj
    likes VBZ 0 root
    taxes NNS 3 obj
    . . 3 punct""",
    """Every critic liked the film .
    Every DT 2 det
    critic NN 3 nsubj
    liked VBD 0 root
    the DT 5 det
    film NN 3 obj
    . . 3 punct""",
    """John did not sleep .
    John NNP 4 nsubj
    did VBD 4 aux
    not RB 4 advmod
    sleep VB 0 root
    . . 4 punct""",
    """Obama was not born in Kenya .
    Obama NNP 4 nsubj:pass
    was VBD 4 aux:pass
    not RB 4 advmod
    born VBN 0 root
    in IN 6 case
    Kenya NNP 4 nmod:in
    . . 4 punct""",
    """She ran this morning .
    She PRP 2 nsubj
    ran VBD 0 root
    this DT 4 det
    morning NN 2 nmod:tmod
    . . 2 punct""",
    """We leave the day after tomorrow .
    We PRP 2 nsubj
    leave VBP 0 root
    the DT 4 det
    day NN 2 nmod:tmod
    after IN 6 case
    tomorrow NN 4 nmod:after
    . . 2 punct""",
    """The firm employs two hundred people .
    The DT 2 det
    firm NN 3 nsubj
    employs VBZ 0 root
    two CD 5 compound
    hundred CD 6 nummod
    people NNS 3 obj
    . . 3 punct""",
    """His successor arrived on Monday .
    His PRP$ 2 nmod:poss
    successor NN 3 nsubj
    arrived VBD 0 root
    on IN 5 case
    Monday NNP 3 nmod:on
    . . 3 punct""",
    """Stellar Group is owned by Acme Corp. today .
    Stellar NNP 2 compound
    Group NNP 4 nsubj:pass
    is VBZ 4 aux:pass
    owned VBN 0 root
    by IN 7 case
    Acme NNP 7 compound
    Corp. NNP 4 nmod:by
    today NN 4 nmod:tmod
    . . 4 punct""",
    """Few students read the newspaper .
    Few JJ 2 amod
    students NNS 3 nsubj
    read VBD 0 root
    the DT 5 det
    newspaper NN 3 obj
    . . 3 punct""",
    """Most students read long books .
    Most JJS 2 det
    students NNS 3 nsubj
    read VBP 0 root
    long JJ 5 amod
    books NNS 3 obj
    . . 3 punct""",
    """The figures were encouraging .
    The DT 2 det
    figures NNS 4 nsubj
    were VBD 4 cop
    encouraging JJ 0 root
    . . 4 punct""",
    """The numbers were alarming .
    The DT 2 det
    numbers NNS 4 nsubj
    were VBD 4 cop
    alarming JJ 0 root
    . . 4 punct""",
    """The sign near the door points to Berlin .
    The DT 2 det
    sign NN 6 nsubj
    near IN 5 case
    the DT 5 det
    door NN 2 nmod:near
    points VBZ 0 root
    to IN 8 case
    Berlin NNP 6 nmod:to
    . . 6 punct""",
    """The letter from the bank refers to Paris .
    The DT 2 det
    letter NN 6 nsubj
    from IN 5 case
    the DT 5 det
    bank NN 2 nmod:from
    refers VBZ 0 root
    to IN 8 case
    Paris NNP 6 nmod:to
    . . 6 punct""",
    """The ceremony was in Berlin .
    The DT 2 det
    ceremony NN 5 nsubj
    was VBD 5 cop
    in IN 5 case
    Berlin NNP 0 root
    . . 5 punct""",
    """The lecture was on Monday .
    The DT 2 det
    lecture NN 5 nsubj
    was VBD 5 cop
    on IN 5 case
    Monday NNP 0 root
    . . 5 punct""",
    """The law was signed in a ceremony .
    The DT 2 det
    law NN 4 nsubj:pass
    was VBD 4 aux:pass
    signed VBN 0 root
    in IN 7 case
    a DT 7 det
    ceremony NN 4 nmod:in
    . . 4 punct""",
    """The paper was printed in a hurry .
    The DT 2 det
    paper NN 4 nsubj:pass
    was VBD 4 aux:pass
    printed VBN 0 root
    in IN 7 case
    a DT 7 det
    hurry NN 4 nmod:in
    . . 4 punct""",
    """The team 's captain resigned .
    The DT 2 det
    team NN 4 nmod:poss
    's POS 2 case
    captain NN 5 nsubj
    resigned VBD 0 root
    . . 5 punct""",
    """The city 's mayor spoke .
    The DT 2 det
    city NN 4 nmod:poss
    's POS 2 case
    mayor NN 5 nsubj
    spoke VBD 0 root
    . . 5 punct""",
    """He gave her the keys .
    He PRP 2 nsubj
    gave VBD 0 root
    her PRP 2 iobj
    the DT 5 det
    keys NNS 2 obj
    . . 2 punct""",
    """They offered him a contract .
    They PRP 2 nsubj
    offered VBD 0 root
    him PRP 2 iobj
    a DT 5 det
    contract NN 2 obj
    . . 2 punct""",
    """The president of Meridian Institute , Hugo Ellison , resigned .
    The DT 2 det
    president NN 10 nsubj
    of IN 5 case
    Meridian NNP 5 compound
    Institute NNP 2 nmod:of
    , , 8 punct
    Hugo NNP 8 compound
    Ellison NNP 2 appos
    , , 8 punct
    resigned VBD 0 root
    . . 10 punct""",
    # ------------------------------------------------------------------
    # r4 enhanced++ completion constructions (VERDICT r3 #5): multiword
    # prepositions (because_of / in_front_of — gold in the ENHANCED MWE
    # form enhance_edges restores idempotently), quantificational-modifier
    # demotion (Millions of / A number of), and xcomp object control
    # feeding the OpenIE xsubj rewrite. Two trees per construction so the
    # even/odd split puts one of each in train AND heldout.
    # ------------------------------------------------------------------
    """She canceled the meeting because of the rain .
    She PRP 2 nsubj
    canceled VBD 0 root
    the DT 4 det
    meeting NN 2 obj
    because IN 8 case
    of IN 5 fixed
    the DT 8 det
    rain NN 2 nmod:because_of
    . . 2 punct""",
    """The manager resigned because of the scandal .
    The DT 2 det
    manager NN 3 nsubj
    resigned VBD 0 root
    because IN 7 case
    of IN 4 fixed
    the DT 7 det
    scandal NN 3 nmod:because_of
    . . 3 punct""",
    """The car stopped in front of the house .
    The DT 2 det
    car NN 3 nsubj
    stopped VBD 0 root
    in IN 8 case
    front NN 4 fixed
    of IN 4 fixed
    the DT 8 det
    house NN 3 nmod:in_front_of
    . . 3 punct""",
    """They parked in front of the station .
    They PRP 2 nsubj
    parked VBD 0 root
    in IN 7 case
    front NN 3 fixed
    of IN 3 fixed
    the DT 7 det
    station NN 2 nmod:in_front_of
    . . 2 punct""",
    """Millions of people attended the rally .
    Millions NNS 3 dep
    of IN 3 case
    people NNS 4 nsubj
    attended VBD 0 root
    the DT 6 det
    rally NN 4 obj
    . . 4 punct""",
    """A number of students failed the exam .
    A DT 2 det
    number NN 4 dep
    of IN 4 case
    students NNS 5 nsubj
    failed VBD 0 root
    the DT 7 det
    exam NN 5 obj
    . . 5 punct""",
    """He asked Mary to leave .
    He PRP 2 nsubj
    asked VBD 0 root
    Mary NNP 2 obj
    to TO 5 mark
    leave VB 2 xcomp
    . . 2 punct""",
    """The board asked the director to resign .
    The DT 2 det
    board NN 3 nsubj
    asked VBD 0 root
    the DT 5 det
    director NN 3 obj
    to TO 7 mark
    resign VB 3 xcomp
    . . 3 punct""",
]

# ---------------------------------------------------------------------------
# Anchor trees: hand annotations of the OpenIE regression suite's hardest
# sentences (itest/src/edu/stanford/nlp/naturalli/OpenIEITest.java fixtures).
# They are SPEC, not evaluation material: always in train(), never in
# heldout() — the UAS gate stays uncontaminated while the extraction gate
# gets a consistent signal for exactly these token sequences.
# ---------------------------------------------------------------------------
_ANCHOR_SENTS: list[str] = [
    """Barack Obama was born in Hawaii .
    Barack NNP 2 compound
    Obama NNP 4 nsubj:pass
    was VBD 4 aux:pass
    born VBN 0 root
    in IN 6 case
    Hawaii NNP 4 nmod:in
    . . 4 punct""",
    """Chris Manning works for Stanford University .
    Chris NNP 2 compound
    Manning NNP 3 nsubj
    works VBZ 0 root
    for IN 6 case
    Stanford NNP 6 compound
    University NNP 3 nmod:for
    . . 3 punct""",
    """Tom and Jerry have tails
    Tom NNP 4 nsubj
    and CC 3 cc
    Jerry NNP 1 conj
    have VBP 0 root
    tails NNS 4 obj""",
    """On 21 February 2013 George Boyd joined on loan from Peterborough United for the remainder of the season .
    On IN 4 case
    21 CD 4 nummod
    February NNP 4 compound
    2013 CD 7 nmod:on
    George NNP 6 compound
    Boyd NNP 7 nsubj
    joined VBD 0 root
    on IN 9 case
    loan NN 7 nmod:on
    from IN 12 case
    Peterborough NNP 12 compound
    United NNP 9 nmod:from
    for IN 15 case
    the DT 15 det
    remainder NN 7 nmod:for
    of IN 18 case
    the DT 18 det
    season NN 15 nmod:of
    . . 7 punct""",
    """On 21 February 2013 George Boyd joined on loan from Peterborough United .
    On IN 4 case
    21 CD 4 nummod
    February NNP 4 compound
    2013 CD 7 nmod:on
    George NNP 6 compound
    Boyd NNP 7 nsubj
    joined VBD 0 root
    on IN 9 case
    loan NN 7 nmod:on
    from IN 12 case
    Peterborough NNP 12 compound
    United NNP 9 nmod:from
    . . 7 punct""",
    """Barack Hussein Obama II is the 44th and current President of the United States , and the first African American to hold the office .
    Barack NNP 4 compound
    Hussein NNP 4 compound
    Obama NNP 4 compound
    II NNP 10 nsubj
    is VBZ 10 cop
    the DT 10 det
    44th JJ 10 amod
    and CC 10 cc
    current JJ 10 amod
    President NNP 0 root
    of IN 14 case
    the DT 14 det
    United NNP 14 compound
    States NNPS 10 nmod:of
    , , 20 punct
    and CC 20 cc
    the DT 20 det
    first JJ 20 amod
    African JJ 20 amod
    American NN 10 conj
    to TO 22 mark
    hold VB 20 acl
    the DT 24 det
    office NN 22 obj
    . . 10 punct""",
    """Barack Hussein Obama II is the 44th President of the United States .
    Barack NNP 4 compound
    Hussein NNP 4 compound
    Obama NNP 4 compound
    II NNP 8 nsubj
    is VBZ 8 cop
    the DT 8 det
    44th JJ 8 amod
    President NNP 0 root
    of IN 12 case
    the DT 12 det
    United NNP 12 compound
    States NNPS 8 nmod:of
    . . 8 punct""",
    """He worked as a civil rights attorney and taught constitutional law at the University of Chicago Law School from 1992 to 2004 .
    He PRP 2 nsubj
    worked VBD 0 root
    as IN 7 case
    a DT 7 det
    civil JJ 7 amod
    rights NNS 7 compound
    attorney NN 2 nmod:as
    and CC 9 cc
    taught VBD 2 conj
    constitutional JJ 11 amod
    law NN 9 obj
    at IN 14 case
    the DT 14 det
    University NNP 9 nmod:at
    of IN 18 case
    Chicago NNP 18 compound
    Law NNP 18 compound
    School NNP 14 nmod:of
    from IN 20 case
    1992 CD 9 nmod:from
    to IN 22 case
    2004 CD 20 nmod:to
    . . 2 punct""",
    """He then defeated Republican nominee John McCain in the general election , and was inaugurated as president on January 20 , 2009 .
    He PRP 3 nsubj
    then RB 3 advmod
    defeated VBD 0 root
    Republican NNP 7 compound
    nominee NN 7 compound
    John NNP 7 compound
    McCain NNP 3 obj
    in IN 11 case
    the DT 11 det
    general JJ 11 amod
    election NN 3 nmod:in
    , , 15 punct
    and CC 15 cc
    was VBD 15 aux:pass
    inaugurated VBN 3 conj
    as IN 17 case
    president NN 15 nmod:as
    on IN 22 case
    January NNP 22 compound
    20 CD 22 nummod
    , , 22 punct
    2009 CD 17 nmod:on
    . . 3 punct""",
    """Born in Honolulu , Hawaii , Obama is a graduate of Columbia University .
    Born VBN 10 advcl
    in IN 3 case
    Honolulu NNP 1 nmod:in
    , , 5 punct
    Hawaii NNP 3 appos
    , , 10 punct
    Obama NNP 10 nsubj
    is VBZ 10 cop
    a DT 10 det
    graduate NN 0 root
    of IN 13 case
    Columbia NNP 13 compound
    University NNP 10 nmod:of
    . . 10 punct""",
    """He was a community organizer in Chicago before earning his law degree .
    He PRP 5 nsubj
    was VBD 5 cop
    a DT 5 det
    community NN 5 compound
    organizer NN 0 root
    in IN 7 case
    Chicago NNP 5 nmod:in
    before IN 9 mark
    earning VBG 5 advcl
    his PRP$ 12 nmod:poss
    law NN 12 compound
    degree NN 9 obj
    . . 5 punct""",
]

def _parse_block(block: str) -> tuple[list[str], list[str], list]:
    lines = [ln.strip() for ln in block.strip().splitlines()]
    rows = [ln.split() for ln in lines[1:]]  # first line = plain text
    words = [r[0] for r in rows]
    xpos = [r[1] for r in rows]
    edges = []
    for d, r in enumerate(rows):
        head = int(r[2])
        edges.append((head - 1 if head > 0 else -1, d, r[3]))
    return words, xpos, edges


def _validate(words, xpos, edges, text_line: str):
    n = len(words)
    assert text_line.split() == words, f"text/token mismatch: {text_line}"
    roots = [d for h, d, r in edges if h == -1]
    assert len(roots) == 1, f"needs exactly 1 root: {text_line}"
    assert len(edges) == n, f"every token needs a head: {text_line}"
    for h, d, r in edges:
        assert -1 <= h < n and 0 <= d < n and h != d, f"bad index: {text_line}"
    # projectivity / derivability under arc-standard (the static oracle
    # returns None for non-projective trees)
    from corenlp_spark.models.parser import _gold_transitions

    gh = {d: h for h, d, r in edges if h >= 0}
    gl = {d: r for h, d, r in edges if h >= 0}
    assert _gold_transitions(n, gh, gl) is not None, \
        f"non-projective or underivable: {text_line}"


def _load_blocks(blocks) -> list[tuple[list[str], list[str], list]]:
    out = []
    for block in blocks:
        words, xpos, edges = _parse_block(block)
        _validate(words, xpos, edges, block.strip().splitlines()[0])
        out.append((words, xpos, edges))
    return out


def load() -> list[tuple[list[str], list[str], list]]:
    """All gold trees (general treebank + suite anchors), validated.
    [(words, xpos, edges)] — edges are (head, dep, rel), 0-based, root -1."""
    return _load_blocks(_SENTS) + anchors()


def anchors() -> list[tuple[list[str], list[str], list]]:
    """Hand-annotated OpenIE-suite anchor trees (train-only, see above)."""
    return _load_blocks(_ANCHOR_SENTS)


def train() -> list[tuple[list[str], list[str], list]]:
    """Even-indexed general sentences + ALL anchors — disjoint from
    heldout()."""
    return [t for i, t in enumerate(_load_blocks(_SENTS)) if i % 2 == 0] \
        + anchors()


def heldout() -> list[tuple[list[str], list[str], list]]:
    """Odd-indexed GENERAL sentences (anchors excluded) — never seen in
    training; the UAS gate runs here, against human annotation rather than
    the rule parser's output."""
    return [t for i, t in enumerate(_load_blocks(_SENTS)) if i % 2 == 1]


def dep_corpus() -> list[tuple[list[str], list[str], list]]:
    """Template-derived dependency corpus: each frame's STRUCTURE is
    annotated once by hand (same conventions as the hand treebank above) and
    the open-class slots cycle deterministically through the shared
    vocabulary tables — gold by construction, never parser output. This is
    the conflict-free bulk that replaces r2's rule-parser distillation: the
    frames carry the same relation conventions as _SENTS, so the two signals
    reinforce instead of fighting."""
    from corenlp_spark.data.train_corpus import (
        ADJS, ADVS, NOUNS, PROPER, VERBS, _pick,
    )

    out = []

    def add(rows):
        words = [r[0] for r in rows]
        xpos = [r[1] for r in rows]
        edges = [((r[2] - 1) if r[2] > 0 else -1, d, r[3])
                 for d, r in enumerate(rows)]
        out.append((words, xpos, edges))

    n_iter = max(len(NOUNS), len(VERBS), len(ADJS))
    for i in range(n_iter):
        ns, np_ = _pick(NOUNS, i)
        ns2, np2 = _pick(NOUNS, i + 7)
        ns3, _ = _pick(NOUNS, i + 19)
        vb, vbz, vbd, vbg, vbn = _pick(VERBS, i)
        vb2, _, vbd2, _, vbn2 = _pick(VERBS, i + 11)
        jj = _pick(ADJS, i)
        jj2 = _pick(ADJS, i + 5)
        rb = _pick(ADVS, i)
        nnp = _pick(PROPER, i)
        nnp2 = _pick(PROPER, i + 13)
        nnp3 = _pick(PROPER, i + 17)
        prep = _pick(["in", "on", "from", "with", "for", "at"], i)

        # transitive + amod/advmod: "The quick cat visited the garden ."
        add([("The", "DT", 3, "det"), (jj, "JJ", 3, "amod"),
             (ns, "NN", 4, "nsubj"), (vbd, "VBD", 0, "root"),
             ("the", "DT", 6, "det"), (ns2, "NN", 4, "obj"),
             (".", ".", 4, "punct")])
        # transitive + verb-attached PP: "The cat visited the garden in X ."
        add([("The", "DT", 2, "det"), (ns, "NN", 3, "nsubj"),
             (vbd, "VBD", 0, "root"), ("the", "DT", 5, "det"),
             (ns2, "NN", 3, "obj"), (prep, "IN", 7, "case"),
             (nnp2, "NNP", 3, f"nmod:{prep}"), (".", ".", 3, "punct")])
        # plural present + advmod
        add([("The", "DT", 2, "det"), (np_, "NNS", 3, "nsubj"),
             (vb, "VBP", 0, "root"), (np2, "NNS", 3, "obj"),
             (rb, "RB", 3, "advmod"), (".", ".", 3, "punct")])
        # quantified + modified plural subject: "Some blue cats have tails ."
        add([("Some", "DT", 3, "det"), (jj, "JJ", 3, "amod"),
             (np_, "NNS", 4, "nsubj"), (vb, "VBP", 0, "root"),
             (np2, "NNS", 4, "obj"), (".", ".", 4, "punct")])
        # copula adjective: "The cat is happy ."
        add([("The", "DT", 2, "det"), (ns, "NN", 4, "nsubj"),
             ("is", "VBZ", 4, "cop"), (jj2, "JJ", 0, "root"),
             (".", ".", 4, "punct")])
        # copula nominal: "Anna is a teacher ."
        add([(nnp, "NNP", 4, "nsubj"), ("is", "VBZ", 4, "cop"),
             ("a", "DT", 4, "det"), (ns, "NN", 0, "root"),
             (".", ".", 4, "punct")])
        # passive + by-agent: "The box was shipped by the company ."
        add([("The", "DT", 2, "det"), (ns, "NN", 4, "nsubj:pass"),
             ("was", "VBD", 4, "aux:pass"), (vbn, "VBN", 0, "root"),
             ("by", "IN", 7, "case"), ("the", "DT", 7, "det"),
             (ns2, "NN", 4, "nmod:by"), (".", ".", 4, "punct")])
        # present passive + locative: "Anna is employed in Madrid ."
        add([(nnp, "NNP", 3, "nsubj:pass"), ("is", "VBZ", 3, "aux:pass"),
             (vbn2, "VBN", 0, "root"), ("in", "IN", 5, "case"),
             (nnp2, "NNP", 3, "nmod:in"), (".", ".", 3, "punct")])
        # modal: "The teacher will visit the village ."
        add([("The", "DT", 2, "det"), (ns, "NN", 4, "nsubj"),
             ("will", "MD", 4, "aux"), (vb, "VB", 0, "root"),
             ("the", "DT", 6, "det"), (ns2, "NN", 4, "obj"),
             (".", ".", 4, "punct")])
        # negation: "The teacher did not visit the village ."
        add([("The", "DT", 2, "det"), (ns, "NN", 5, "nsubj"),
             ("did", "VBD", 5, "aux"), ("not", "RB", 5, "advmod"),
             (vb, "VB", 0, "root"), ("the", "DT", 7, "det"),
             (ns2, "NN", 5, "obj"), (".", ".", 5, "punct")])
        # xcomp: "The student wants to visit the city ."
        add([("The", "DT", 2, "det"), (ns, "NN", 3, "nsubj"),
             ("wants", "VBZ", 0, "root"), ("to", "TO", 5, "mark"),
             (vb, "VB", 3, "xcomp"), ("the", "DT", 7, "det"),
             (ns2, "NN", 5, "obj"), (".", ".", 3, "punct")])
        # progressive: "The dog is jumping over the fence ."
        add([("The", "DT", 2, "det"), (ns, "NN", 4, "nsubj"),
             ("is", "VBZ", 4, "aux"), (vbg, "VBG", 0, "root"),
             ("over", "IN", 7, "case"), ("the", "DT", 7, "det"),
             (ns2, "NN", 4, "nmod:over"), (".", ".", 4, "punct")])
        # perfect: "The group has published results ."
        add([("The", "DT", 2, "det"), (ns, "NN", 4, "nsubj"),
             ("has", "VBZ", 4, "aux"), (vbn, "VBN", 0, "root"),
             (np2, "NNS", 4, "obj"), (".", ".", 4, "punct")])
        # multi-token names: "Anna Keller visited Victor Alden ."
        add([(nnp, "NNP", 2, "compound"), (nnp3, "NNP", 3, "nsubj"),
             (vbd, "VBD", 0, "root"), (nnp2, "NNP", 3, "obj"),
             (".", ".", 3, "punct")])
        # possessive: "Anna 's dog is happy ."
        add([(nnp, "NNP", 3, "nmod:poss"), ("'s", "POS", 1, "case"),
             (ns, "NN", 5, "nsubj"), ("is", "VBZ", 5, "cop"),
             (jj, "JJ", 0, "root"), (".", ".", 5, "punct")])
        # existential: "There are cats with tails ."
        add([("There", "EX", 3, "expl"), ("are", "VBP", 3, "cop"),
             (np_, "NNS", 0, "root"), ("with", "IN", 5, "case"),
             (np2, "NNS", 3, "nmod:with"), (".", ".", 3, "punct")])
        # VP coordination, shared subject: "Anna visited Madrid and praised the city ."
        add([(nnp, "NNP", 2, "nsubj"), (vbd, "VBD", 0, "root"),
             (nnp2, "NNP", 2, "obj"), ("and", "CC", 5, "cc"),
             (vbd2, "VBD", 2, "conj"), ("the", "DT", 7, "det"),
             (ns2, "NN", 5, "obj"), (".", ".", 2, "punct")])
        # NP coordination subject: "Anna and Brian visited the village ."
        add([(nnp, "NNP", 4, "nsubj"), ("and", "CC", 3, "cc"),
             (nnp2, "NNP", 1, "conj"), (vbd, "VBD", 0, "root"),
             ("the", "DT", 6, "det"), (ns2, "NN", 4, "obj"),
             (".", ".", 4, "punct")])
        # ccomp: "Anna said that the group published results ."
        add([(nnp, "NNP", 2, "nsubj"), ("said", "VBD", 0, "root"),
             ("that", "IN", 6, "mark"), ("the", "DT", 5, "det"),
             (ns, "NN", 6, "nsubj"), (vbd, "VBD", 2, "ccomp"),
             (np2, "NNS", 6, "obj"), (".", ".", 2, "punct")])
        # relative clause: "The teacher who visited the village smiled ."
        add([("The", "DT", 2, "det"), (ns, "NN", 7, "nsubj"),
             ("who", "WP", 4, "nsubj"), (vbd, "VBD", 2, "acl:relcl"),
             ("the", "DT", 6, "det"), (ns2, "NN", 4, "obj"),
             (vbd2, "VBD", 0, "root"), (".", ".", 7, "punct")])
        # subject NP with PP: "The teacher from the village visited Anna ."
        add([("The", "DT", 2, "det"), (ns, "NN", 6, "nsubj"),
             ("from", "IN", 5, "case"), ("the", "DT", 5, "det"),
             (ns2, "NN", 2, "nmod:from"), (vbd, "VBD", 0, "root"),
             (nnp, "NNP", 6, "obj"), (".", ".", 6, "punct")])
        # sentence-initial PP: "In Madrid the group published results ."
        add([("In", "IN", 2, "case"), (nnp2, "NNP", 5, "nmod:in"),
             ("the", "DT", 4, "det"), (ns, "NN", 5, "nsubj"),
             (vbd, "VBD", 0, "root"), (np2, "NNS", 5, "obj"),
             (".", ".", 5, "punct")])
        # gerund advcl: "Anna smiled after visiting the village ."
        add([(nnp, "NNP", 2, "nsubj"), (vbd2, "VBD", 0, "root"),
             ("after", "IN", 4, "mark"), (vbg, "VBG", 2, "advcl"),
             ("the", "DT", 6, "det"), (ns2, "NN", 4, "obj"),
             (".", ".", 2, "punct")])
    return out
