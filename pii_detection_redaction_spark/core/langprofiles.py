"""Shared per-language lexical profiles (deterministic, embedded).

Used by three consumers so the whole system is self-consistent with no
external data (fastText/kenlm wheels are unavailable in this environment —
SURVEY.md §2.11): the language-ID scorer (stopword + charset evidence), the
character n-gram LM (seed text synthesis for training counts), and the
synthetic corpus generator in ``..testing.corpus``.

All content is common public vocabulary; lists are frozen — changing them
changes golden fixtures.
"""

from __future__ import annotations

# Marker stopwords per language (lowercase). Chosen to be discriminative:
# no word appears in two lists (pinned by test_stopword_lists_disjoint).
# The three round-3 additions (it/nl/pt) are ASCII-only so their patterns
# stay \b-safe in RE2 (ASCII \b) as well as Python/Java (Unicode \b) — the
# langid oracle SQL evaluates them in DuckDB.
STOPWORDS = {
    "en": (
        "the and of to in is that it for was with you this have are not "
        "from they his her been which were there would all will what"
    ).split(),
    "de": (
        "der die das und ist nicht ein eine mit von den dem für auf sich "
        "auch wird bei durch über nach wenn aber noch wie zum aus"
    ).split(),
    "fr": (
        "le les des une est dans pour que qui pas sur avec plus cette "
        "mais ont être aux ses nous vous leur fait tout même"
    ).split(),
    "es": (
        "el los las una es por para con del se su como más pero sus "
        "está entre también hasta donde porque muy sin años había"
    ).split(),
    "it": (
        "di che non per sono della nelle questo anche come quando sempre "
        "dopo ogni cosa senza molto fare tutti altri anni"
    ).split(),
    "nl": (
        "het van een dat niet op voor met zijn aan ook maar naar dan nog "
        "wel geen deze onder tussen"
    ).split(),
    "pt": (
        "uma isso mas os dos ele ela ser foi tem depois ainda quem "
        "tudo pelo pela sem ano onde nas"
    ).split(),
}

# Characteristic characters (appear in running text of that language).
# Only chars that are reasonably exclusive per language are listed (e.g. the
# Italian set is ì/ò — à/è/ù would double-count for French).
# Charset evidence lists hold only characters EXCLUSIVE to their language
# among the scored set — a shared accent is evidence for several languages
# and listing it under one silently biases scoring toward it (probe:
# Portuguese 'análise do relatório histórico' scored ('es', 1.0) while
# á/í/ó/ú sat in the es list; Italian 'qualità della città' scored fr
# while à sat in the fr list). Ambiguous accents (á í ó ú: es+pt; à â ç
# è ê ô ù: fr+pt+it) are in NO list — stopwords carry those languages.
CHARSETS = {
    "en": "",
    "de": "äöüßÄÖÜ",
    "fr": "ëîïûœÿËÎÏÛŒ",
    "es": "ñ¿¡Ñ",
    "it": "ìòÌÒ",
    "nl": "",
    "pt": "ãõÃÕ",
}

# Content vocabulary per language for synthetic text + LM seed corpora.
CONTENT_WORDS = {
    "en": (
        # NB: free of NAME_TITLE role words (customer/patient/...) so the
        # synthetic corpus only contains the bare-title plants it intends
        "report market system analysis growth service product company data "
        "network public research development buyer project management "
        "information technology process industry value performance quality "
        "business strategy review model result increase change support local "
        "national community education health policy energy finance travel "
        "weather science culture history design building morning evening"
    ).split(),
    "de": (
        "bericht markt system analyse wachstum dienst produkt unternehmen "
        "daten netzwerk forschung entwicklung kunde projekt verwaltung "
        "information technologie prozess industrie wert leistung qualität "
        "geschäft strategie prüfung modell ergebnis erhöhung änderung "
        "unterstützung gemeinde bildung gesundheit politik energie finanzen "
        "reise wetter wissenschaft kultur geschichte gestaltung gebäude"
    ).split(),
    "fr": (
        "rapport marché système analyse croissance service produit entreprise "
        "données réseau recherche développement acheteur projet gestion "
        "information technologie processus industrie valeur performance "
        "qualité affaires stratégie examen modèle résultat augmentation "
        "changement soutien communauté éducation santé politique énergie "
        "finances voyage météo science culture histoire conception bâtiment"
    ).split(),
    "es": (
        "informe mercado sistema análisis crecimiento servicio producto "
        "empresa datos red investigación desarrollo cliente proyecto gestión "
        "información tecnología proceso industria valor rendimiento calidad "
        "negocio estrategia revisión modelo resultado aumento cambio apoyo "
        "comunidad educación salud política energía finanzas viaje tiempo "
        "ciencia cultura historia diseño edificio mañana tarde"
    ).split(),
    "zh": list(
        "市场系统分析增长服务产品公司数据网络研究发展客户项目管理信息技术"
        "过程工业价值性能质量业务战略审查模型结果增加变化支持社区教育健康"
        "政策能源金融旅行天气科学文化历史设计建筑早晨晚上报告国家经济社会"
    ),
    "it": (
        "rapporto mercato sistema analisi crescita servizio prodotto azienda "
        "dati rete ricerca sviluppo cliente progetto gestione informazione "
        "tecnologia processo industria valore prestazione qualità affari "
        "strategia revisione modello risultato aumento cambiamento supporto "
        "comunità istruzione salute politica energia finanza viaggio scienza "
        "cultura storia disegno edificio mattina sera città così può lunedì"
    ).split(),
    "nl": (
        "rapport markt systeem analyse groei dienst product bedrijf gegevens "
        "netwerk onderzoek ontwikkeling klant project beheer informatie "
        "technologie proces industrie waarde prestatie kwaliteit zaken "
        "strategie beoordeling model resultaat toename verandering steun "
        "gemeenschap onderwijs gezondheid beleid energie reis weer "
        "wetenschap cultuur geschiedenis ontwerp gebouw ochtend avond"
    ).split(),
    "pt": (
        "relatório mercado sistema análise crescimento serviço produto "
        "empresa dados rede pesquisa desenvolvimento cliente projeto gestão "
        "informação tecnologia processo indústria valor desempenho qualidade "
        "negócio estratégia revisão modelo resultado aumento mudança apoio "
        "comunidade educação saúde política energia finanças viagem ciência "
        "cultura história desenho edifício manhã noite situação coração"
    ).split(),
    # Japanese: katakana loanwords + hiragana function words + kanji nouns,
    # joined without spaces (char-based language) — kana fraction well above
    # KANA_THRESHOLD, Han fraction present (the ja branch outranks zh).
    "ja": (
        "データ システム サービス ネットワーク プロジェクト レポート "
        "ビジネス エネルギー デザイン モデル これは それで します ました "
        "について という ことが あります されて できる ために 市場の分析 "
        "成長と結果 会社の情報 技術の開発 研究の報告 顧客の管理 価値と品質 "
        "戦略の変化 教育と健康 政策の支援 文化と歴史 設計の建物 朝と夜"
    ).split(),
    # Korean: all-Hangul vocabulary (space-separated language).
    "ko": (
        "데이터 시스템 서비스 네트워크 프로젝트 보고서 시장 분석 성장 "
        "제품 회사 연구 개발 고객 관리 정보 기술 과정 산업 가치 성능 "
        "품질 사업 전략 검토 모델 결과 증가 변화 지원 지역 교육 건강 "
        "정책 에너지 금융 여행 날씨 과학 문화 역사 설계 건물 아침 저녁"
    ).split(),
}

LANGS = ("en", "de", "fr", "es", "zh", "it", "nl", "pt", "ja", "ko")

# Languages without whitespace word segmentation: word-count-based quality
# rules switch to their char-count analogs (core.quality / functions.quality
# / the oracle SQL all consume this same constant).
CHAR_BASED_LANGS = ("zh", "ja")
