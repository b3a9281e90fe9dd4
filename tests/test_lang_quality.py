"""Language-ID quality measurement (round-4 verdict #5).

A labeled fixture of natural-prose snippets — 12 per language for the
10 languages lang_id_ngram supports — measured for per-language
precision and recall. The snippets are ordinary everyday prose
(weather, food, travel, work) written for this fixture; no external
data. The floor asserted here is >= 0.90 precision AND recall per
language; the measured table is printed so BASELINE.md can cite it.
"""

from __future__ import annotations

import pytest

LABELED: dict[str, list[str]] = {
    "de": [
        "Der Zug ist heute wieder zu spät und die Leute auf dem Bahnsteig sind nicht zufrieden.",
        "Ich habe das Buch gestern gelesen und es war von der ersten Seite an spannend.",
        "Die Kinder spielen im Garten, während die Eltern mit den Nachbarn sprechen.",
        "Das Wetter soll am Wochenende besser werden, aber ich glaube es nicht.",
        "Wir treffen uns um acht Uhr vor dem Kino und gehen danach etwas essen.",
        "Sie hat sich ein neues Fahrrad gekauft, weil das alte kaputt war.",
        "Der Lehrer erklärt die Aufgabe noch einmal, damit alle sie verstehen.",
        "Im Sommer fahren wir mit dem Auto an die See und bleiben zwei Wochen.",
        "Er kann heute nicht kommen, weil er auf die Kinder aufpassen muss.",
        "Die Firma sucht seit Monaten neue Mitarbeiter für das Büro in München.",
        "Ich verstehe nicht, warum der Drucker schon wieder nicht funktioniert.",
        "Nach dem Essen gehen wir oft eine Runde um den See spazieren.",
    ],
    "en": [
        "The train was late again this morning and everyone on the platform was annoyed.",
        "I read the book last night and it was gripping from the very first page.",
        "The children are playing in the garden while the parents talk to the neighbours.",
        "The weather is supposed to improve at the weekend, but I do not believe it.",
        "We are meeting at eight in front of the cinema and getting food afterwards.",
        "She bought a new bicycle because the old one was beyond repair.",
        "The teacher explained the task again so that everyone would understand it.",
        "In summer we drive to the coast and stay there for two weeks.",
        "He cannot come today because he has to look after the children.",
        "The company has been looking for new staff for the office for months.",
        "I do not understand why the printer is not working again.",
        "After dinner we often take a walk around the lake.",
    ],
    "es": [
        "El tren llegó tarde otra vez esta mañana y la gente en el andén estaba molesta.",
        "Leí el libro anoche y me pareció fascinante desde la primera página.",
        "Los niños juegan en el jardín mientras los padres hablan con los vecinos.",
        "Dicen que el tiempo va a mejorar el fin de semana, pero no lo creo.",
        "Nos vemos a las ocho delante del cine y después vamos a cenar algo.",
        "Se compró una bicicleta nueva porque la vieja ya no tenía arreglo.",
        "El profesor explicó la tarea otra vez para que todos la entendieran.",
        "En verano vamos en coche a la costa y nos quedamos dos semanas.",
        "No puede venir hoy porque tiene que cuidar a los niños.",
        "La empresa lleva meses buscando gente nueva para la oficina.",
        "No entiendo por qué la impresora no funciona otra vez.",
        "Después de cenar solemos dar un paseo alrededor del lago.",
    ],
    "fr": [
        "Le train était encore en retard ce matin et les gens sur le quai étaient agacés.",
        "J'ai lu le livre hier soir et il était passionnant dès la première page.",
        "Les enfants jouent dans le jardin pendant que les parents parlent avec les voisins.",
        "La météo doit s'améliorer ce week-end, mais je n'y crois pas.",
        "On se retrouve à huit heures devant le cinéma et on mange quelque chose après.",
        "Elle a acheté un nouveau vélo parce que l'ancien était irréparable.",
        "Le professeur a expliqué l'exercice encore une fois pour que tout le monde comprenne.",
        "En été nous allons en voiture au bord de la mer et nous restons deux semaines.",
        "Il ne peut pas venir aujourd'hui parce qu'il doit garder les enfants.",
        "L'entreprise cherche du personnel pour le bureau depuis des mois.",
        "Je ne comprends pas pourquoi l'imprimante ne marche pas encore une fois.",
        "Après le dîner nous faisons souvent une promenade autour du lac.",
    ],
    "id": [
        "Kereta datang terlambat lagi pagi ini dan orang-orang di peron merasa kesal.",
        "Saya membaca buku itu tadi malam dan ceritanya menarik dari halaman pertama.",
        "Anak-anak bermain di kebun sementara orang tua berbicara dengan tetangga.",
        "Katanya cuaca akan membaik akhir pekan ini, tetapi saya tidak percaya.",
        "Kita bertemu jam delapan di depan bioskop dan setelah itu makan bersama.",
        "Dia membeli sepeda baru karena yang lama sudah tidak bisa diperbaiki.",
        "Guru menjelaskan tugas itu sekali lagi supaya semua orang mengerti.",
        "Pada musim panas kami pergi ke pantai dengan mobil dan tinggal dua minggu.",
        "Dia tidak bisa datang hari ini karena harus menjaga anak-anak di rumah.",
        "Perusahaan itu sudah berbulan-bulan mencari karyawan baru untuk kantor.",
        "Saya tidak mengerti mengapa printer ini tidak berfungsi lagi.",
        "Setelah makan malam kami sering berjalan-jalan di sekitar danau.",
    ],
    "it": [
        "Il treno era di nuovo in ritardo stamattina e la gente sul binario era seccata.",
        "Ho letto il libro ieri sera ed era avvincente fin dalla prima pagina.",
        "I bambini giocano in giardino mentre i genitori parlano con i vicini.",
        "Dicono che il tempo migliorerà nel fine settimana, ma non ci credo.",
        "Ci vediamo alle otto davanti al cinema e poi andiamo a mangiare qualcosa.",
        "Si è comprata una bicicletta nuova perché quella vecchia era da buttare.",
        "Il professore ha spiegato di nuovo il compito perché tutti lo capissero.",
        "In estate andiamo in macchina al mare e restiamo due settimane.",
        "Non può venire oggi perché deve badare ai bambini.",
        "L'azienda cerca da mesi nuovo personale per l'ufficio.",
        "Non capisco perché la stampante non funziona di nuovo.",
        "Dopo cena facciamo spesso una passeggiata intorno al lago.",
    ],
    "nl": [
        "De trein was vanochtend weer te laat en de mensen op het perron waren geïrriteerd.",
        "Ik heb het boek gisteravond gelezen en het was vanaf de eerste bladzijde spannend.",
        "De kinderen spelen in de tuin terwijl de ouders met de buren praten.",
        "Het weer zou in het weekend beter worden, maar ik geloof er niets van.",
        "We zien elkaar om acht uur voor de bioscoop en gaan daarna iets eten.",
        "Ze heeft een nieuwe fiets gekocht omdat de oude niet meer te repareren was.",
        "De leraar legde de opdracht nog een keer uit zodat iedereen het begreep.",
        "In de zomer rijden we met de auto naar de kust en blijven er twee weken.",
        "Hij kan vandaag niet komen omdat hij op de kinderen moet passen.",
        "Het bedrijf zoekt al maanden nieuwe mensen voor het kantoor.",
        "Ik snap niet waarom de printer het alweer niet doet.",
        "Na het eten maken we vaak een wandeling rond het meer.",
    ],
    "pt": [
        "O comboio chegou atrasado outra vez esta manhã e as pessoas na plataforma ficaram irritadas.",
        "Li o livro ontem à noite e achei fascinante desde a primeira página.",
        "As crianças brincam no jardim enquanto os pais conversam com os vizinhos.",
        "Dizem que o tempo vai melhorar no fim de semana, mas eu não acredito.",
        "Encontramo-nos às oito em frente ao cinema e depois vamos jantar.",
        "Ela comprou uma bicicleta nova porque a velha já não tinha conserto.",
        "O professor explicou o exercício outra vez para que todos entendessem.",
        "No verão vamos de carro para a praia e ficamos lá duas semanas.",
        "Ele não pode vir hoje porque tem de cuidar das crianças.",
        "A empresa procura há meses funcionários novos para o escritório.",
        "Não entendo por que a impressora não funciona de novo.",
        "Depois do jantar costumamos dar um passeio à volta do lago.",
    ],
    "sv": [
        "Tåget var försenat igen i morse och folket på perrongen var irriterade.",
        "Jag läste boken igår kväll och den var spännande från första sidan.",
        "Barnen leker i trädgården medan föräldrarna pratar med grannarna.",
        "Det sägs att vädret ska bli bättre i helgen, men jag tror inte på det.",
        "Vi ses klockan åtta utanför bion och äter något efteråt.",
        "Hon har köpt en ny cykel eftersom den gamla inte gick att laga.",
        "Läraren förklarade uppgiften en gång till så att alla skulle förstå.",
        "På sommaren åker vi bil till kusten och stannar där i två veckor.",
        "Han kan inte komma idag eftersom han måste ta hand om barnen.",
        "Företaget har letat efter ny personal till kontoret i flera månader.",
        "Jag förstår inte varför skrivaren inte fungerar igen.",
        "Efter middagen tar vi ofta en promenad runt sjön.",
    ],
    "tr": [
        "Tren bu sabah yine gecikti ve perondaki insanlar çok rahatsız oldu.",
        "Kitabı dün gece okudum ve ilk sayfadan itibaren çok sürükleyiciydi.",
        "Çocuklar bahçede oynuyor, anne ve babalar da komşularla konuşuyor.",
        "Hava sonunda düzelecek diyorlar ama ben buna pek inanmıyorum.",
        "Saat sekizde sinemanın önünde buluşuyoruz ve sonra bir şeyler yiyeceğiz.",
        "Eski bisikleti tamir edilemediği için kendine yeni bir bisiklet aldı.",
        "Öğretmen herkes anlasın diye ödevi bir kez daha anlattı.",
        "Yazın arabayla deniz kenarına gidiyoruz ve orada iki hafta kalıyoruz.",
        "Bugün gelemez çünkü evde çocuklara bakmak zorunda.",
        "Şirket aylardır ofis için yeni çalışanlar arıyor.",
        "Yazıcının neden yine çalışmadığını hiç anlamıyorum.",
        "Akşam yemeğinden sonra çoğu zaman göl kenarında yürüyüş yaparız.",
    ],
}


def _measure(spark, fn):
    """Run a lang_id-shaped op over the fixture → per-language
    precision/recall plus the confusion list."""
    rows = []
    i = 0
    truth = {}
    for lang, snippets in LABELED.items():
        for s in snippets:
            rows.append((i, s))
            truth[i] = lang
            i += 1
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r["lang"] for r in fn(df, "id", "text").collect()}
    stats = {}
    confusions = []
    for lang in LABELED:
        tp = sum(1 for i, t in truth.items() if t == lang and got[i] == lang)
        fp = sum(1 for i, t in truth.items() if t != lang and got[i] == lang)
        fn_ = sum(1 for i, t in truth.items() if t == lang and got[i] != lang)
        stats[lang] = {
            "precision": tp / (tp + fp) if tp + fp else 1.0,
            "recall": tp / (tp + fn_) if tp + fn_ else 0.0,
        }
    for i, t in truth.items():
        if got[i] != t:
            confusions.append((t, got[i], rows[i][1][:60]))
    return stats, confusions


def test_lang_id_ngram_quality_floor(spark):
    """Per-language precision AND recall >= 0.90 on the held-out
    labeled fixture — the round-4 verdict bar. The function-word
    argmax measured en precision 0.71 here, which is exactly why
    lang_id_ngram (char-trigram naive Bayes over embedded seed
    paragraphs) exists. The table is printed for BASELINE.md §9;
    run pytest -s to see it."""
    from lucene_spark.ops.textstats import lang_id_ngram

    stats, confusions = _measure(spark, lang_id_ngram)
    print("\nlang_id_ngram quality (12 held-out snippets per language):")
    for lang in sorted(stats):
        s = stats[lang]
        print(f"  {lang}: precision={s['precision']:.3f} recall={s['recall']:.3f}")
    for t, g, snip in confusions:
        print(f"  confused {t} -> {g}: {snip}")
    for lang, s in stats.items():
        assert s["precision"] >= 0.90, (lang, s, confusions)
        assert s["recall"] >= 0.90, (lang, s, confusions)


def test_lang_id_ngram_junk_is_und(spark):
    """Number-only, empty and random-letter inputs fall below the
    calibrated floor → 'und'; short hex-ish junk may take a label
    (documented: junk filtering is quality_score's job)."""
    from lucene_spark.ops.textstats import lang_id_ngram

    rows = [
        (0, "123 456 789 000"),
        (1, ""),
        (2, "qzxv wkjq zzpq xjwv qqfzk"),
        (3, "The train was late again this morning, so we waited."),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r["lang"] for r in lang_id_ngram(df, "id", "text").collect()}
    assert got[0] == "und" and got[1] == "und" and got[2] == "und", got
    assert got[3] == "en", got


def test_lang_id_ngram_matches_python_replica(spark):
    """Spark scoring == the training-side Python formula at 1e-9 on
    every fixture snippet (same profiles, same normalization)."""
    from lucene_spark.ops.textstats import (
        LANG_NGRAM_MIN_SCORE,
        LANG_NGRAM_PROFILES,
        _norm_text_py,
        lang_id_ngram,
    )

    rows = []
    i = 0
    for snippets in LABELED.values():
        for s in snippets:
            rows.append((i, s))
            i += 1
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r["id"]: (r["best_score"], r["lang"])
        for r in lang_id_ngram(df, "id", "text").collect()
    }
    for i, text in rows:
        s = _norm_text_py(text)
        tgs = [s[j : j + 3] for j in range(len(s) - 2)]
        best = None
        for lang in sorted(LANG_NGRAM_PROFILES):
            prof, floor = LANG_NGRAM_PROFILES[lang]
            m = dict(prof)
            sc = sum(m.get(t, floor) for t in tgs) / max(len(tgs), 1)
            if best is None or sc > best[1]:
                best = (lang, sc)
        want_lang = best[0] if best[1] >= LANG_NGRAM_MIN_SCORE else "und"
        assert got[i][0] == pytest.approx(round(best[1], 6), abs=1e-9), i
        assert got[i][1] == want_lang, (i, got[i], want_lang)


def test_lang_id_en_only_flags_english(spark):
    """The binary en/und op flags every English fixture snippet as en."""
    from lucene_spark.ops.textstats import lang_id

    rows = [(i, s) for i, s in enumerate(LABELED["en"])]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r["lang"] for r in lang_id(df, "id", "text").collect()}
    assert all(v == "en" for v in got.values()), got
