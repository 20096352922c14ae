"""Multi-language identification kernel + Spark operator tests."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from llmap_spark.operators.langid import (LANGUAGES, MARKERS, SCRIPT_SINGLE,
                                          detect_language, lang_id2)


def test_language_surface_is_wide():
    # the r4-verdict ask: >= 20 languages incl. CJK/Cyrillic/Arabic
    assert len([l for l in LANGUAGES if l != "und"]) >= 25
    for lang in ("zh", "ja", "ko", "ru", "ar", "hi", "th", "he", "el"):
        assert lang in LANGUAGES


def test_single_script_languages_decide_by_script():
    cases = {
        "ko": "이것은 테스트 페이지의 주요 내용입니다",
        "th": "นี่คือหน้าทดสอบที่มีเนื้อหาหลัก",
        "el": "αυτό είναι μια δοκιμαστική σελίδα",
        "he": "זהו דף בדיקה עם תוכן עיקרי",
        "hi": "यह मुख्य सामग्री वाला परीक्षण पृष्ठ है",
        "bn": "এটি একটি পরীক্ষা পৃষ্ঠা",
        "ta": "இது சோதனை பக்கம்",
        "ka": "ეს არის ტესტის გვერდი",
        "hy": "սա փորձնական էջ է",
    }
    for lang, text in cases.items():
        got = detect_language(text)
        assert got[0] == lang, (lang, got)
        assert got[1] == {v: k for k, v in SCRIPT_SINGLE.items()}[lang]


def test_han_resolves_zh_vs_ja_by_kana():
    assert detect_language("这是一个测试页面的主要内容")[0] == "zh"
    # kanji-dominant but kana present -> ja
    assert detect_language("日本語の文章ですこれは内容")[0] == "ja"
    # kana-dominant is ja via the kana script directly
    assert detect_language("これはテストページです")[0] == "ja"


def test_marker_languages_argmax():
    cases = {
        "en": "the report and the data of the case that is ready",
        "de": "der bericht und die daten das ist nicht mit ein problem",
        "fr": "le rapport est dans une page que les notes pour des cas",
        "ru": "и в не на что это как по страница",
        "uk": "і що це як та але від щоб сторінка",
        "ar": "في من على أن إلى عن هذا التي صفحة",
        "fa": "که این است با را های برای آن صفحه",
        "tr": "bir ve bu için ile olarak daha çok sayfa",
        "vi": "và của là có không được người trong trang",
    }
    for lang, text in cases.items():
        assert detect_language(text)[0] == lang, lang


def test_no_evidence_is_und_not_a_guess():
    # latin letters but no marker words anywhere
    assert detect_language("zzz qqq xxyzzy blorp")[0] == "und"
    # cyrillic letters, no markers
    assert detect_language("зжщ фыва йцукен")[0] == "und"
    assert detect_language(None) == ("und", "none", 0)
    assert detect_language("") == ("und", "none", 0)
    assert detect_language("12345 --- !!! 678") == ("und", "none", 0)


def test_dominant_script_wins_mixed_text():
    # a mostly-Russian page with a short English phrase stays ru
    text = ("и в не на что это как по " * 5) + "click here"
    assert detect_language(text)[0] == "ru"
    # and the mirror case stays en
    text2 = ("the and of to that is for with " * 5) + "привет"
    assert detect_language(text2)[0] == "en"


def test_tie_breaks_are_fixed_order():
    # 'je' is a cs marker; 'se'/'na' shared cs — equal-score ties must
    # break to the earlier language in the script list deterministically
    got1 = detect_language("je se na")
    got2 = detect_language("je se na")
    assert got1 == got2
    # marker lists are non-empty and duplicate-free per language
    for script, langs in MARKERS.items():
        for lang, words in langs:
            assert len(words) == len(set(words)), (script, lang)



# one line of ordinary news prose per language: the marker model must
# separate real text, not only marker-word lists
PROSE = {
    "en": "The city council said that the new bridge is ready for traffic and will open with a short ceremony.",
    "de": "Der Bericht zeigt, dass die Stadt nicht genug Geld für das neue Schwimmbad hat und die Arbeiten mit Verzögerung beginnen.",
    "fr": "Le maire a annoncé que les travaux dans le centre de la ville sont une priorité pour des milliers de familles.",
    "es": "El gobierno anunció que los precios de las viviendas bajaron por primera vez en una década, según los datos para este año.",
    "it": "Il sindaco ha detto che i lavori della nuova scuola sono quasi finiti e che anche il parco sarà più grande per tutti.",
    "pt": "O governo disse que não há dinheiro para mais uma ponte, e os moradores também pedem uma solução rápida.",
    "nl": "Het college van de gemeente zegt dat de nieuwe brug nog niet klaar is, maar de werkzaamheden zijn voor de zomer ook gepland.",
    "pl": "Rząd poinformował, że nie jest jeszcze gotowy plan, ale minister powiedział, że wszystko zmieni się przez lato tylko dzięki nowej ustawie.",
    "sv": "Regeringen säger att det inte finns pengar för den nya bron och att kommunen har fått vänta i flera år.",
    "da": "Regeringen siger, at der ikke er penge til den nye bro, og kommunen har ventet i mange år, før planen blev godkendt.",
    "fi": "Hallitus kertoi, että uusi silta ei ole vielä valmis, mutta työt alkavat myös kesällä, kun rahoitus on varmistettu.",
    "tr": "Belediye başkanı, yeni köprünün bu yıl içinde açılacağını ve şehir için çok önemli bir proje olarak görüldüğünü söyledi.",
    "id": "Pemerintah mengatakan bahwa jembatan yang baru dan jalan menuju kota tidak akan dibuka untuk umum sebelum akhir tahun ini.",
    "vi": "Chính quyền thành phố cho biết cây cầu mới và con đường không được mở trong năm nay vì người dân có nhiều ý kiến.",
    "ro": "Primarul a spus că noul pod este aproape gata și că lucrările din centrul orașului nu vor mai dura mult pentru locuitorii care așteaptă.",
    "cs": "Starosta řekl, že nový most je téměř hotový, ale práce na silnici se zpozdí, protože pro město je to tak drahé.",
    "hu": "A polgármester szerint az új híd már majdnem kész, és a munkák hamarosan befejeződnek, de egy út csak jövőre nyílik meg.",
    "ru": "Мэр города сказал, что новый мост почти готов и что работы на дороге не займут много времени, как и обещали.",
    "uk": "Мер міста сказав, що новий міст майже готовий, але роботи на дорозі триватимуть ще рік, щоб усе було як слід.",
    "bg": "Кметът каза, че новият мост е почти готов и че това ще може да стане само след като бъде завършен пътят към града.",
    "sr": "Градоначелник је рекао да је нови мост скоро завршен и да су радови на путу били тежи него што се очекивало.",
    "ar": "قال رئيس البلدية إن الجسر الجديد في المدينة سيفتح على الطريق الرئيسي في هذا الشهر بعد سنوات من العمل.",
    "fa": "شهردار گفت که این پل جدید برای مردم شهر ساخته شده است و آن را تا پایان سال باز می‌کنند.",
    "ur": "شہر کے میئر نے کہا کہ نیا پل تقریباً تیار ہے اور سڑک کا کام اگلے مہینے میں مکمل ہو جائے گا۔",
    "el": "Ο δήμαρχος είπε ότι η νέα γέφυρα είναι σχεδόν έτοιμη και θα ανοίξει τον επόμενο μήνα.",
    "he": "ראש העיר אמר שהגשר החדש כמעט מוכן וייפתח בחודש הבא לאחר שנים של עבודה.",
    "hi": "महापौर ने कहा कि नया पुल लगभग तैयार है और अगले महीने खुल जाएगा।",
    "bn": "মেয়র বলেছেন যে নতুন সেতুটি প্রায় প্রস্তুত এবং আগামী মাসে খুলে দেওয়া হবে।",
    "ta": "புதிய பாலம் கிட்டத்தட்ட தயாராக உள்ளது என்றும் அடுத்த மாதம் திறக்கப்படும் என்றும் மேயர் கூறினார்.",
    "th": "นายกเทศมนตรีกล่าวว่าสะพานใหม่ใกล้จะเสร็จแล้วและจะเปิดใช้ในเดือนหน้า",
    "ko": "시장은 새 다리가 거의 완공되었으며 다음 달에 개통될 것이라고 말했다.",
    "ja": "市長は、新しい橋はほぼ完成しており、来月には開通する予定だと述べた。",
    "zh": "市长表示，新桥已基本完工，预计下个月正式通车。",
    "ka": "მერმა თქვა, რომ ახალი ხიდი თითქმის მზადაა და მომავალ თვეში გაიხსნება.",
    "hy": "Քաղաքապետը ասաց, որ նոր կամուրջը գրեթե պատրաստ է և կբացվի հաջորդ ամիս։",
}


def test_prose_table_covers_every_language():
    assert set(PROSE) == set(LANGUAGES) - {"und"}


@pytest.mark.parametrize("lang", sorted(PROSE))
def test_natural_prose_is_identified(lang):
    got, script, n_letters = detect_language(PROSE[lang])
    assert got == lang, (lang, got, script)
    assert n_letters > 0


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=400))
def test_kernel_total_on_arbitrary_unicode(s):
    lang, script, n = detect_language(s)
    assert lang in LANGUAGES
    assert isinstance(n, int) and n >= 0
    # determinism
    assert detect_language(s) == (lang, script, n)


def test_spark_udf_matches_kernel(spark):
    """The Spark operator calls THE SAME kernel: row-for-row identical
    output on a mixed corpus (the no-fork invariant)."""
    texts = [
        "the report and the data of the case",
        "der bericht und die daten",
        "и в не на что это как по",
        "في من على أن إلى عن",
        "これはテストページです",
        "이것은 테스트 페이지",
        "这是一个测试页面的主要内容",
        None, "", "12345", "zzz qqq",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r.doc_id: (r.pred_lang, r.pred_script, r.n_letters)
           for r in lang_id2(df).collect()}
    for i, t in enumerate(texts):
        assert got[i] == detect_language(t), (i, t)
