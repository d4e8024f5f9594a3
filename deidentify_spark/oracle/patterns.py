"""PII detection patterns — transcription of the reference regexes.

Source of truth: /root/reference/patterns.go:6-47 (Go RE2). Transcribed —
not copied — to Python `regex`-module syntax with Go's ASCII semantics made
explicit, because Python defaults to Unicode for ``\\d``/``\\s``/``\\w``/``\\b``
while Go RE2 is ASCII:

  Go ``\\d``  -> ``[0-9]``
  Go ``\\s``  -> ``[\\t\\n\\f\\r ]``      (RE2 whitespace class, no \\v)
  Go ``\\w``  -> ``[0-9A-Za-z_]``
  Go ``\\b``  -> ASCII lookarounds ``(?<![0-9A-Za-z_])`` / ``(?![0-9A-Za-z_])``
               (valid here because every \\b in the reference is adjacent to
               an ASCII word character inside the pattern)

``\\p{L}`` stays Unicode (the regex module keeps property classes Unicode).
Inline ``(?i)`` is hoisted to a single prefix per composed pattern (Go
scopes it from-position; all composed components are uniformly (?i), so
hoisting is behavior-identical). All patterns are compiled once at import
(the reference recompiles per call — deidentify.go:631 etc.; compiling once
is behavior-neutral and required for UDF throughput).
"""

import regex

# Go RE2 whitespace characters, for use INSIDE a character class.
_WS = r"\t\n\f\r "
# ASCII word-boundary halves (see module docstring).
_WB_L = r"(?<![0-9A-Za-z_])"
_WB_R = r"(?![0-9A-Za-z_])"

# --- simple value patterns (patterns.go:6-22) ---

EMAIL_PATTERN = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"

PHONE_PATTERN = (
    rf"(\+[0-9]{{1,2}}[{_WS}])?\(?[0-9]{{3}}\)?[{_WS}.-]?[0-9]{{3}}[{_WS}.-]?[0-9]{{4}}"
)
PHONE_FORMAT_PATTERN = (
    rf"^(\+?1?[{_WS}]?)?(\(?)([0-9]{{3}})(\)?[{_WS}.-]?)([0-9]{{3}})([{_WS}.-]?)([0-9]{{4}})"
)

SSN_PATTERN = r"[0-9]{3}[- ]?[0-9]{2}[- ]?[0-9]{4}"
SSN_SPACE_PATTERN = r"[ ]"
SSN_HYPHEN_PATTERN = r"[-]"
SSN_CONTEXT_PATTERN = r"(?i)SSN|social security"

CREDIT_CARD_PATTERN = (
    rf"[0-9]{{4}}[{_WS}-]?[0-9]{{4}}[{_WS}-]?[0-9]{{4}}[{_WS}-]?[0-9]{{4}}"
)

NAME_PATTERN = rf"{_WB_L}[A-Z][a-z]+ [A-Z][a-z]+{_WB_R}"

# --- address vocabulary patterns (patterns.go:25-36) ---

_ADDRESS_WORDS = (
    "Street|Avenue|Road|Lane|Drive|Boulevard|Blvd|Way|Plaza|Square|Court|"
    "Terrace|Place|Circle|Alley|Row|Highway|Hwy|Parkway|Path|Trail|Crescent|"
    "Rue|Strasse|Calle|Via|Viale|Avenida|Carrer|Straat|Gasse|Weg|"
    "Camino|Ulica|Utca|Prospekt|Dori|Jalan|Marg|Dao|Jie|Lu"
)
# 'Straße' sits in the plain alternation with the uniform boundaries:
# it BEGINS with 'S' and ENDS with 'e' — both ASCII word chars — so
# RE2's ASCII \b on either side behaves exactly like the
# (?<![0-9A-Za-z_]) / (?![0-9A-Za-z_]) transcription (standalone
# 'Marien Straße' matches; 'Straßenbahn' does not, since 'n' follows).
# The interior 'ß' never touches a \b position, so its non-word status
# in RE2 is irrelevant here (patterns.go:25).
ADDRESS_WORD_PATTERN = rf"(?i){_WB_L}({_ADDRESS_WORDS}|Straße){_WB_R}"

INTERNATIONAL_ADDRESS_PATTERN = (
    "(?i)(street|avenue|road|lane|drive|boulevard|blvd|way|plaza|square|court|"
    "terrace|place|circle|alley|row|highway|parkway|path|trail|crescent|rue|"
    "strasse|straße|calle|via|viale|avenida|carrer|straat|gasse|weg|camino|"
    "ulica|utca|prospekt|dori|jalan|marg|dao|jie|lu)"
)

# Country list body (no flag prefix; composed below). \s+ -> [\t\n\f\r ]+.
_COUNTRY_BODY = (
    rf"(Afghanistan|Albania|Algeria|Andorra|Angola|Argentina|Armenia|Australia|"
    rf"Austria|Azerbaijan|Bahamas|Bahrain|Bangladesh|Barbados|Belarus|Belgium|"
    rf"Belize|Benin|Bhutan|Bolivia|Bosnia|Brazil|Brunei|Bulgaria|"
    rf"Burkina[{_WS}]+Faso|Burundi|Cambodia|Cameroon|Canada|Chad|Chile|China|"
    rf"Colombia|Comoros|Congo|Costa[{_WS}]+Rica|Croatia|Cuba|Cyprus|Czech|"
    rf"Denmark|Djibouti|Dominica|Dominican[{_WS}]+Republic|Ecuador|Egypt|"
    rf"El[{_WS}]+Salvador|Eritrea|Estonia|Eswatini|Ethiopia|Fiji|Finland|France|"
    rf"Gabon|Gambia|Georgia|Germany|Ghana|Greece|Grenada|Guatemala|Guinea|"
    rf"Guyana|Haiti|Honduras|Hungary|Iceland|India|Indonesia|Iran|Iraq|Ireland|"
    rf"Israel|Italy|Jamaica|Japan|Jordan|Kazakhstan|Kenya|Kiribati|Korea|Kuwait|"
    rf"Kyrgyzstan|Laos|Latvia|Lebanon|Lesotho|Liberia|Libya|Liechtenstein|"
    rf"Lithuania|Luxembourg|Madagascar|Malawi|Malaysia|Maldives|Mali|Malta|"
    rf"Mauritania|Mauritius|Mexico|Micronesia|Moldova|Monaco|Mongolia|"
    rf"Montenegro|Morocco|Mozambique|Myanmar|Namibia|Nauru|Nepal|Netherlands|"
    rf"New[{_WS}]+Zealand|Nicaragua|Niger|Nigeria|Norway|Oman|Pakistan|Palau|"
    rf"Panama|Papua[{_WS}]+New[{_WS}]+Guinea|Paraguay|Peru|Philippines|Poland|"
    rf"Portugal|Qatar|Romania|Russia|Rwanda|Samoa|San[{_WS}]+Marino|"
    rf"Saudi[{_WS}]+Arabia|Senegal|Serbia|Seychelles|Sierra[{_WS}]+Leone|"
    rf"Singapore|Slovakia|Slovenia|Solomon[{_WS}]+Islands|Somalia|"
    rf"South[{_WS}]+Africa|South[{_WS}]+Sudan|Spain|Sri[{_WS}]+Lanka|Sudan|"
    rf"Suriname|Sweden|Switzerland|Syria|Taiwan|Tajikistan|Tanzania|Thailand|"
    rf"Togo|Tonga|Trinidad[{_WS}]+and[{_WS}]+Tobago|Tunisia|Turkey|Turkmenistan|"
    rf"Tuvalu|Uganda|Ukraine|United[{_WS}]+Arab[{_WS}]+Emirates|UAE|"
    rf"United[{_WS}]+Kingdom|UK|Great[{_WS}]+Britain|Britain|England|Scotland|"
    rf"Wales|United[{_WS}]+States|USA|U\.S\.A\.|U\.S\.|US|America|Uruguay|"
    rf"Uzbekistan|Vanuatu|Vatican|Venezuela|Vietnam|Yemen|Zambia|Zimbabwe)"
)
COUNTRY_NAME_PATTERN = rf"(?i){_COUNTRY_BODY}"

_CITY_BODY = (
    rf"(New[{_WS}]+York|Los[{_WS}]+Angeles|Chicago|Houston|Phoenix|Philadelphia|"
    rf"San[{_WS}]+Antonio|San[{_WS}]+Diego|Dallas|San[{_WS}]+Jose|Austin|"
    rf"Jacksonville|Fort[{_WS}]+Worth|Columbus|Charlotte|Indianapolis|"
    rf"San[{_WS}]+Francisco|Seattle|Denver|Washington|Boston|London|Manchester|"
    rf"Birmingham|Liverpool|Glasgow|Edinburgh|Paris|Marseille|Lyon|Berlin|"
    rf"Munich|Hamburg|Frankfurt|Tokyo|Osaka|Kyoto|Seoul|Mumbai|Delhi|Hyderabad|"
    rf"Bangkok|Beijing|Shanghai|Hong[{_WS}]+Kong|Singapore|Toronto|Vancouver|"
    rf"Montreal|Sydney|Melbourne|Brisbane|Madrid|Barcelona|Rome|Milan|Amsterdam|"
    rf"Brussels|Vienna|Prague|Moscow|St\.[{_WS}]+Petersburg|Dubai|"
    rf"Abu[{_WS}]+Dhabi|Riyadh|Cairo|Nairobi|Lagos|Johannesburg|"
    rf"Cape[{_WS}]+Town|Casablanca|Istanbul|Ankara|Tehran|Baghdad|Karachi|"
    rf"Lahore|Dhaka|Jakarta|Manila|Auckland)"
)
CITY_PATTERN = rf"(?i){_CITY_BODY}"

_ISO_BODY = (
    rf"{_WB_L}(AF|AX|AL|DZ|AS|AD|AO|AI|AQ|AG|AR|AM|AW|AU|AT|AZ|BS|BH|BD|BB|BY|"
    rf"BE|BZ|BJ|BM|BT|BO|BQ|BA|BW|BV|BR|IO|BN|BG|BF|BI|KH|CM|CA|CV|KY|CF|TD|"
    rf"CL|CN|CX|CC|CO|KM|CG|CD|CK|CR|CI|HR|CU|CW|CY|CZ|DK|DJ|DM|DO|EC|EG|SV|"
    rf"GQ|ER|EE|ET|FK|FO|FJ|FI|FR|GF|PF|TF|GA|GM|GE|DE|GH|GI|GR|GL|GD|GP|GU|"
    rf"GT|GG|GN|GW|GY|HT|HM|VA|HN|HK|HU|IS|IN|ID|IR|IQ|IE|IM|IL|IT|JM|JP|JE|"
    rf"JO|KZ|KE|KI|KP|KR|KW|KG|LA|LV|LB|LS|LR|LY|LI|LT|LU|MO|MK|MG|MW|MY|MV|"
    rf"ML|MT|MH|MQ|MR|MU|YT|MX|FM|MD|MC|MN|ME|MS|MA|MZ|MM|NA|NR|NP|NL|NC|NZ|"
    rf"NI|NE|NG|NU|NF|MP|NO|OM|PK|PW|PS|PA|PG|PY|PE|PH|PN|PL|PT|PR|QA|RE|RO|"
    rf"RU|RW|BL|SH|KN|LC|MF|PM|VC|WS|SM|ST|SA|SN|RS|SC|SL|SG|SX|SK|SI|SB|SO|"
    rf"ZA|GS|SS|ES|LK|SD|SR|SJ|SZ|SE|CH|SY|TW|TJ|TZ|TH|TL|TG|TK|TO|TT|TN|TR|"
    rf"TM|TC|TV|UG|UA|AE|GB|US|USA|UM|UY|UZ|VU|VE|VN|VG|VI|WF|EH|YE|ZM|ZW)"
    rf"{_WB_R}"
)
ISO_COUNTRY_CODE_PATTERN = rf"(?i){_ISO_BODY}"

# --- composed address patterns (patterns.go:39-47) ---

# The number token differs syntactically from the reference's
# `(\d+[-\s]?\w*|\d+-\d+-\d+)` in two match-equivalent, perf-only ways
# (Go RE2 is linear by construction; Python backtracks, and the raw
# transcription is O(n^3) on long digit runs — a real web-page hazard):
#   1. possessive [0-9]++ — a shorter digit take forces the next token to
#      match at a mid-digit position, where [-\s]?-then-[\s,]+ / "-" always
#      fails and [0-9A-Za-z_]* reaches the same endpoints anyway;
#   2. leading (?<![0-9]) — a match can never START mid-digit-run (the
#      pattern behaves identically from the run's first position, and no
#      match can END inside a run since every digit-consuming token is
#      followed by a mandatory non-digit), so skipping digit-preceded
#      start positions changes nothing and makes scanning O(n).
_NUM_TOKEN = (
    r"(?<![0-9])([0-9]++[-" + _WS + r"]?[0-9A-Za-z_]*|[0-9]++-[0-9]++-[0-9]++)"
)
_SEP = rf"[{_WS},]+"
_WORDS = rf"([A-Za-z\p{{L}}]+([{_WS}'-][A-Za-z\p{{L}}]+)*{_SEP})+"
_WORDS_NOSEP = rf"([A-Za-z\p{{L}}]+([{_WS}'-][A-Za-z\p{{L}}]+)*)"

SPECIAL_ADDRESS_PATTERN_1 = (
    rf"(?i){_NUM_TOKEN}{_SEP}{_WORDS}"
    rf"(Road|Rd|Street|St|Avenue|Ave|Boulevard|Blvd|Drive|Dr){_SEP}{_COUNTRY_BODY}"
)

SPECIAL_ADDRESS_PATTERN_2 = (
    rf"(?i)(?<![0-9])([0-9]++){_SEP}{_WORDS}"
    rf"(Rue|Via|Road|Street|Avenue){_SEP}{_WORDS_NOSEP}{_SEP}{_CITY_BODY}{_SEP}{_COUNTRY_BODY}"
)

SPECIAL_ADDRESS_PATTERN_3 = (
    rf"(?i)(:[{_WS}]+|at[{_WS}]+|@[{_WS}]+){_NUM_TOKEN}{_SEP}{_WORDS}"
    rf"(Road|Rd|Street|St|Avenue|Ave|Boulevard|Blvd|Drive|Dr|Lane|Ln|Place|Pl|"
    rf"Rue|Via|Viale|Strasse|Straße|Calle|Avenida)"
)

ADDRESS_PATTERN = (
    rf"(?i){_NUM_TOKEN}{_SEP}{_WORDS}"
    rf"(Street|St|Avenue|Ave|Road|Rd|Drive|Dr|Lane|Ln|Place|Pl|Boulevard|Blvd|"
    rf"Way|Plaza|Square|Sq|Court|Ct|Terrace|Ter|Circle|Cir|Alley|Row|Highway|"
    rf"Hwy|Parkway|Pkwy|Path|Trail|Tr|Crescent|Cres|Rue|Strasse|Straße|Calle|"
    rf"Via|Viale|Avenida|Carrer|Straat|Gasse|Weg|Camino|Ulica|Utca|Prospekt|"
    rf"Dori|Jalan|Marg|Dao|Jie|Lu|út|de la|del|di|van|von)"
    rf"([{_WS}]*,[{_WS}]*|[{_WS}]+){_WORDS_NOSEP}?([{_WS}]*,[{_WS}]*|[{_WS}]+)?"
    rf"({_ISO_BODY}|{_COUNTRY_BODY})?"
)

# Context-cue address pattern (inline in the reference, deidentify.go:598).
# The cues are plain lowercase phrases; oracle/core.py derives the
# anchored scan's candidate starts from their lengths.
CONTEXT_CUES = (
    "lives at",
    "located at",
    "resides at",
    "found at",
    "situated at",
    "at address",
    "address is",
    "at location",
    "based at",
)
_CONTEXT_SUFFIX = (
    r"(Street|St|Avenue|Ave|Road|Rd|Drive|Dr|Lane|Ln|Place|Pl|Boulevard|Blvd|"
    r"Way)"
)
CONTEXT_ADDRESS_PATTERN = (
    "(?i)(" + "|".join(CONTEXT_CUES) + r") ([0-9]+[^\n\.]*?"
    + _CONTEXT_SUFFIX + r"[^\n\.]*)"
)

# --- compiled, import-time (behavior-neutral speedup vs the reference) ---

EMAIL_RE = regex.compile(EMAIL_PATTERN)
PHONE_RE = regex.compile(PHONE_PATTERN)
PHONE_FORMAT_RE = regex.compile(PHONE_FORMAT_PATTERN)
SSN_RE = regex.compile(SSN_PATTERN)
SSN_SPACE_RE = regex.compile(SSN_SPACE_PATTERN)
SSN_HYPHEN_RE = regex.compile(SSN_HYPHEN_PATTERN)
SSN_CONTEXT_RE = regex.compile(SSN_CONTEXT_PATTERN)
CREDIT_CARD_RE = regex.compile(CREDIT_CARD_PATTERN)
NAME_RE = regex.compile(NAME_PATTERN)
ADDRESS_WORD_RE = regex.compile(ADDRESS_WORD_PATTERN)
INTERNATIONAL_ADDRESS_RE = regex.compile(INTERNATIONAL_ADDRESS_PATTERN)
COUNTRY_NAME_RE = regex.compile(COUNTRY_NAME_PATTERN)
CITY_RE = regex.compile(CITY_PATTERN)
ISO_COUNTRY_CODE_RE = regex.compile(ISO_COUNTRY_CODE_PATTERN)
SPECIAL_ADDRESS_1_RE = regex.compile(SPECIAL_ADDRESS_PATTERN_1)
SPECIAL_ADDRESS_2_RE = regex.compile(SPECIAL_ADDRESS_PATTERN_2)
SPECIAL_ADDRESS_3_RE = regex.compile(SPECIAL_ADDRESS_PATTERN_3)
ADDRESS_RE = regex.compile(ADDRESS_PATTERN)
CONTEXT_ADDRESS_RE = regex.compile(CONTEXT_ADDRESS_PATTERN)
# The two parts of a CONTEXT_ADDRESS match that oracle/core.py looks for
# before trying one: a cue phrase and its space ending at the search's
# endpos, and a suffix word. Same alternations and flags, so they fold
# case exactly as the whole pattern does ("baſed at", "ſt").
CONTEXT_CUE_RE = regex.compile("(?i)(" + "|".join(CONTEXT_CUES) + r") \Z")
CONTEXT_SUFFIX_RE = regex.compile("(?i)" + _CONTEXT_SUFFIX)
NON_DIGIT_RE = regex.compile(r"[^0-9]")
