"""Per-language stopword tables.

[canon: goose resources/text/stopwords-{lang}.txt] — the Goose lineage ships
plain-text stopword files per language; we vendor them as frozensets so they
ride inside the --py-files zip and load once per executor Python worker
(SURVEY.md §1.1 "Stopword tables"). Lists here are the classic public
stopword lists the Goose files derive from (trimmed to the common core).
When /root/reference mounts (empty at build time, SURVEY.md §0.1), replace
these with the reference's files verbatim (SURVEY.md §0.3).

Languages: the full space-delimited set the Goose lineage ships files for
(en, de, es, fr, it, pt, nl, sv, da, fi, hu, id, nb, no, pl, ru), per
SURVEY.md A8 / §1.1 — Norwegian registered under both its bokmål (nb) and
legacy (no) codes like the canonical resources dir. The segmentation
variants zh / ko / ar (the lineage's StopWordsChinese / StopWordsKorean /
StopWordsArabic) ship as of round 3 with matching tokenizer variants in
gooselite.text, and ja / th follow with the same max-match machinery.
vi / he (round 4) are space-delimited and need only tables: Vietnamese
writes spaces between syllables, Hebrew function words are standalone
tokens (clitic prefixes stay attached — documented per-table). hi / bn / tr / el
(late round 4) are likewise space-delimited tables. Truly
unknown codes (yi, …) still fall back to 'en' with
lang_fallback=True.
"""

from __future__ import annotations

_EN = """
a about above after again against all am an and any are aren't as at be
because been before being below between both but by can't cannot could
couldn't did didn't do does doesn't doing don't down during each few for
from further had hadn't has hasn't have haven't having he he'd he'll he's
her here here's hers herself him himself his how how's i i'd i'll i'm i've
if in into is isn't it it's its itself let's me more most mustn't my myself
no nor not of off on once only or other ought our ours ourselves out over
own same shan't she she'd she'll she's should shouldn't so some such than
that that's the their theirs them themselves then there there's these they
they'd they'll they're they've this those through to too under until up
very was wasn't we we'd we'll we're we've were weren't what what's when
when's where where's which while who who's whom why why's with won't would
wouldn't you you'd you'll you're you've your yours yourself yourselves
will just also get got like one two may might must shall upon us
"""

_DE = """
aber alle allem allen aller alles als also am an ander andere anderem
anderen anderer anderes anderm andern anderr anders auch auf aus bei bin
bis bist da damit dann das dass dasselbe dazu dein deine deinem deinen
deiner deines dem demselben den denn denselben der derer derselbe derselben
des desselben dessen dich die dies diese dieselbe dieselben diesem diesen
dieser dieses dir doch dort du durch ein eine einem einen einer eines einig
einige einigem einigen einiger einiges einmal er es etwas euer eure eurem
euren eurer eures für gegen gewesen hab habe haben hat hatte hatten hier
hin hinter ich ihm ihn ihnen ihr ihre ihrem ihren ihrer ihres im in indem
ins ist jede jedem jeden jeder jedes jene jenem jenen jener jenes jetzt
kann kein keine keinem keinen keiner keines können könnte machen man
manche manchem manchen mancher manches mein meine meinem meinen meiner
meines mich mir mit muss musste nach nicht nichts noch nun nur ob oder
ohne sehr sein seine seinem seinen seiner seines selbst sich sie sind so
solche solchem solchen solcher solches soll sollte sondern sonst um und
uns unser unsere unserem unseren unserer unseres unter viel vom von vor
war waren warst was weg weil weiter welche welchem welchen welcher welches
wenn werde werden wie wieder wir wird wirst wo wollen wollte während
würde würden zu zum zur zwar zwischen
"""

_ES = """
a al algo algunas algunos ante antes como con contra cual cuando de del
desde donde durante e el ella ellas ellos en entre era erais eran eras
eres es esa esas ese eso esos esta estaba estado estamos estar estas este
esto estos estoy fue fueron fui fuimos ha habéis había habían han has
hasta hay la las le les lo los me mi mis mucho muchos muy más mí mía
mías mío míos nada ni no nos nosotras nosotros nuestra nuestras nuestro
nuestros o os otra otras otro otros para pero poco por porque que quien
quienes qué se sea sean según ser si sido siendo sin sobre sois somos son
soy su sus suya suyas suyo suyos sí también tanto te tenéis tenemos tener
tengo ti tiene tienen toda todas todo todos tu tus tuya tuyas tuyo tuyos
tú un una unas uno unos usted ustedes vosotras vosotros vuestra vuestras
vuestro vuestros y ya yo él éramos
"""

_FR = """
a ai aie aient aies ait as au aura aurai auraient aurais aurait auras
aurez auriez aurions aurons auront aux avaient avais avait avec avez aviez
avions avons ayant ayez ayons c ce ceci cela celà ces cet cette d dans de
des du elle elles en es est et eu eue eues eurent eus eut eux furent fus
fut fût il ils j je l la le les leur leurs lui m ma mais me mes moi mon
même n ne nos notre nous on ont ou où par pas pour qu que quel quelle
quelles quels qui s sa sans se sera serai seraient serais serait seras
serez seriez serions serons seront ses soi soient sois soit sommes son
sont soyez soyons suis sur t ta te tes toi ton tu un une vos votre vous y
à été étée étées étés étaient étais était étant êtes être
"""

_IT = """
a ad agli ai al alla alle allo anche avere aveva avevano ben buono che chi
cinque comprare con consecutivi consecutivo cosa cui da del della dello
dentro deve devo di doppio due e ecco fare fine fino fra gente giu ha hai
hanno ho il indietro invece io la lavoro le lei lo loro lui lungo ma me
meglio molta molti molto nei nella nello noi nome nostro nove nuovi nuovo
o oltre ora otto peggio pero persone piu più poco primo promesso qua
quarto quasi quattro quello questo qui quindi quinto rispetto sara secondo
sei sembra sembrava senza sette sia siamo siete solo sono sopra soprattutto
sotto stati stato stesso su subito sul sulla tanto te tempo terzo tra tre
triplo ultimo un una uno va vai voi volte vostro
"""

_PT = """
a ao aos aquela aquelas aquele aqueles aquilo as até com como da das de
dela delas dele deles depois do dos e ela elas ele eles em entre era eram
essa essas esse esses esta estas este estes eu foi fomos for foram fosse
há isso isto já lhe lhes mais mas me mesmo meu meus minha minhas muito na
nas nem no nos nossa nossas nosso nossos num numa não nós o os ou para
pela pelas pelo pelos por qual quando que quem se seja sem ser seu seus
sua suas são só também te tem tém teu teus tu tua tuas um uma você vocês
vos à às é
"""

_NL = """
aan al alles als altijd andere ben bij daar dan dat de der deze die dit
doch doen door dus een eens en er ge geen geweest haar had heb hebben
heeft hem het hier hij hoe hun iemand iets ik in is ja je kan kon kunnen
maar me meer men met mij mijn moet na naar niet niets nog nu of om omdat
onder ons ook op over reeds te tegen toch toen tot u uit uw van veel voor
want waren was wat werd wezen wie wil worden wordt zal ze zelf zich zij
zijn zo zonder zou
"""

_SV = """
alla allt att av blev bli blir blivit de dem den denna deras dess dessa
det detta dig din dina ditt du där då efter ej eller en er era ert ett
från för ha hade han hans har henne hennes hon honom hur här i icke
ingen inom inte jag ju kan kunde man med mellan men mig min mina mitt
mot mycket ni nu när någon något några och om oss på samma sedan sig
sin sina sitta själv skulle som så sådan sådana sådant till under upp
ut utan vad var vara varför varit varje vars vart vem vi vid vilka
vilkas vilken vilket vår våra vårt än är åt över
"""

_DA = """
ad af aldrig alle alt anden andet andre at bare begge blev blive bliver
da de dem den denne der deres det dette dig din dine disse dog du efter
ej eller en end ene eneste enhver er et far fem fik fire flere fordi
forrige fra få får før god godt ham han hans har havde have hej helt
hende hendes her hos hun hvad hvem hver hvilken hvis hvor hvordan
hvorfor hvornår i ikke ind ingen intet ja jeg jer jeres jo kan kom
kommer kun kunne lad lav lidt lige lille man mand mange med meget men
mens mere mig min mine mit mod ned nej ni noget nogle nu ny nyt når
nær næste næsten og også okay om op os otte over på se seks selv ser
ses sig sige sin sine sit skal skulle som stor store syv så sådan tag
tage thi ti til to tre ud uden under var ved vi vil ville vor vores
være været
"""

_FI = """
ei eivät emme en et ette että he hän häneen hänelle hänellä häneltä
hänen hänessä hänestä hänet häntä itse ja johon joiden joihin joilla
joille joilta joina joissa joista joita joka jolla jolle jolta jonka
jos jossa josta jota jotka kanssa kenen ketä koska kuin kuka kun me
mihin miksi mikä mille millä miltä minkä minua minulla minulle minulta
minun minussa minusta minut minuun minä missä mistä mitkä mitä mukaan
mutta ne niiden niihin niillä niille niiltä niin niissä niistä niitä
noin nuo nyt näiden näihin näillä näille näiltä näissä näistä näitä
nämä ole olemme olen olet olette oli olimme olin olisi olisin olisit
olit olitte olivat olla olleet ollut on ovat se sekä sen siihen siinä
siitä sille sillä siltä sinua sinulla sinulle sinulta sinun sinussa
sinusta sinut sinuun sinä sitä tai te tuo tuohon tuolla tuolle tuolta
tuon tuossa tuosta tuota tähän tälle tällä tältä tämä tämän tässä
tästä tätä vaan vai vaikka yli
"""

_HU = """
a abban ahhoz ahogy ahol aki akik akkor alatt amely amelyek amelyet
ami amit amolyan amíg annak arra arról az azok azon azt aztán azután
azzal azért be belül benne csak de e ebben eddig egy egyes egyetlen
egyik egyre egyéb egész ehhez ekkor el ellen elsõ elég elő előtt
először emilyen ennek erre ez ezek ezen ezt ezzel ezért fel felé hanem
hiszen hogy hogyan igen illetve ilyen ilyenkor ismét itt jobban jó jól
kell kellett keresztül ki kívül között közül legalább legyen lehet
lehetett lenne lenni lesz lett maga magát majd meg mellett mely melyek
mert mi mikor milyen minden mindenki mindent mindig mint mintha mit
mivel miért most már más másik még míg nagy nagyobb nagyon ne nekem
neki nem nincs néha néhány nélkül olyan ott pedig persze rá saját sem
semmi sok sokat sokkal szemben szerint szinte számára talán tehát
teljes tovább továbbá több úgy ugyanis új újabb újra után utána utolsó
vagy vagyis vagyok valaki valami valamint való van vannak vele vissza
viszont volna volt voltak voltam voltunk
"""

_ID = """
ada adalah adanya adapun agar akan akhirnya aku amat anda antara
antaranya apa apabila apakah apalagi atau ataupun bagai bagaimana bagi
bahkan bahwa banyak beberapa begini begitu belum berapa bila bisa
boleh buat bukan bukanlah cuma dahulu dalam dan dapat dari daripada
dekat demi demikian dengan depan di dia dini diri dirinya dulu entah
hal hampir hanya harus hendak hingga ia ialah ini inilah itu itulah
jangan jika jikalau juga justru kalau kalian kami kamu kapan karena
ke kemudian kenapa kepada ketika kini kita lagi lah lain lainnya lalu
lama lebih maka makin malah mampu mana masih masing mau maupun
melainkan melalui memang mereka merupakan meski meskipun mungkin
namun nanti oleh pada padahal paling para pasti per pernah pula pun
saat saja saling sama sambil sampai sana sangat saya sebab sebagai
sebelum sebelumnya sebuah sedang sedangkan sedikit segala segera
seharusnya sehingga sejak sekali sekarang sekitar selain selalu
selama seluruh semacam semakin sementara semua semuanya sendiri
seolah seorang sepanjang seperti sering serta sesuatu sesudah setelah
setiap siapa sini suatu sudah supaya tadi tak tanpa tapi telah tentang
tentu terhadap tersebut tertentu tetapi tiap tiba tidak toh untuk
walau walaupun yaitu yakni yang
"""

_NO = """
alle andre at av bare begge ble bli blir blitt bort bra bruke både da
de deg dei dem den denne der derfor deres det dette di din disse ditt
du eller en ene eneste enhver enn er et ett etter folk for fordi fra
få før først gjorde gjøre god gå ha hadde han hans har henne hennes
her hun hva hvem hver hvilke hvilken hvis hvor hvordan hvorfor i ikke
ingen inn innen ja jeg kan kom kun kunne lage lang lik like man mange
me med meg meget mellom men mens mer mest mi min mine mitt mot mye må
måte ned nei noe noen ny nå når og også om opp oss over på rett
riktig samme seg selv si siden sin sine sist sitt skal skulle slik
slutt som start stille så sånn tid til tilbake under ut uten var ved
verdi vi vil ville vite vår være vært å
"""

_PL = """
a aby ach albo ale ani aż bardziej bardzo bez bo bowiem by byli bym
być był była było były będzie będą cali cała cały ci cię ciebie co
cokolwiek coś czasami czasem czemu czy czyli daleko dla dlaczego
dlatego do dobrze dokąd dość dużo dwa dwie dziś dzisiaj gdy gdyby
gdyż gdzie gdzieś go i ich ile im inna inne inny innych iż ja jak
jakaś jakby jaki jakie jakiś jakkolwiek jako je jeden jedna jedno
jednak jego jej jemu jest jestem jeszcze jeśli jeżeli już ją każdy
kiedy kilka kto ktoś która które którego której który których którym
którzy ku lat lecz lub ma mają mam mi mimo między mną mnie mogą moi
moim moja moje może można mój mu musi my na nad nam nami nas nasi
nasz nasza nasze natomiast nawet nią nic nich nie niech niego niej
niemu nigdy nim nimi niż no o obok od około on ona one oni ono oraz
oto pan pana pani po pod podczas pomimo ponad ponieważ powinien
powinna powinni powinno poza prawie przecież przed przede przez przy
roku również sam sama są się skąd sobie sobą sposób swoje ta tak taka
taki takie także tam te tego tej ten teraz też to tobą tobie trzeba
tu tutaj twoi twoja twoje twój ty tych tylko tym u w wam wami was
wasz wasza wasze we według wiele wielu więc więcej wszyscy wszystkich
wszystkie wszystkim wszystko wtedy wy właśnie z za zawsze ze znowu
znów został żaden żadna żadne że żeby
"""

_RU = """
а без более больше будет будто бы был была были было быть в вам вас
вдруг ведь во вот впрочем все всегда всего всех всю вы где говорил
да даже два для до другой его ее ей ему если есть еще же за зачем
здесь и из или им иногда их к кажется как какая какой когда конечно
которого которые кто куда ли лучше между меня мне много может можно
мой моя мы на над надо наконец нас не него нее ней нельзя нет ни
нибудь никогда ним них ничего но ну о об один он она они оно опять
от перед по под после потом потому почти при про раз разве с сам
свое свою себе себя сегодня сейчас сказал сказала сказать со совсем
так такой там тебя тем теперь то тогда того тоже только том тот три
тут ты у уж уже хорошо хоть чего чем через что чтоб чтобы чуть эти
этого этой этом этот эту я
"""

# --- Segmentation-variant languages (SURVEY.md A8; VERDICT r2 item 3) ---
# [canon: goose resources stopwords-zh/ko/ar + text.py StopWordsChinese /
# StopWordsKorean / StopWordsArabic]. The Goose lineage ships these three
# as tokenizer VARIANTS, not plain space-split tables: Chinese is
# dictionary-segmented, Korean matches agglutinated particles by
# substring, Arabic strips harakat diacritics first. The matching logic
# is gooselite.text.stopword_counter's per-language variants; the tables
# here are the classic public stopword cores for each language.

# Chinese: 1–2 char function words. The greedy maximal-match segmenter in
# text.py uses this table itself as the dictionary (longest match first),
# so multi-char entries like 没有 are counted once, not as 没+有.
_ZH = """
的 了 是 在 我 有 和 就 不 人 都 一 上 也 很 到 说 要 去 你 会 着 看 好
这 那 他 她 它 吗 呢 吧 啊 把 被 让 从 对 向 与 及 或 等 而 于 之 其 此
为 以 能 可 将 并 但 却 则 再 只 才 过 来 给 用 地 得 最 更 又 没 还 即
如 若 因 由 所 个 中 下 后 前 时 些 每 各 该 另 某 何 谁 哪 别 太 真
一个 没有 自己 我们 你们 他们 她们 它们 这个 那个 这些 那些 什么 怎么
如果 因为 所以 但是 而且 虽然 然后 还有 已经 可以 现在 时候 为什么 哪里
大家 这样 那样 不是 就是 还是 或者 以及 并且 不过 只是 由于 于是 因此
然而 当然 其实 非常 十分 比较 例如 比如 这里 那里 之后 之前 以后 以前
上面 下面 其中 其他 任何 所有 一些 一样 一起 一直 正在 曾经 应该 需要
能够 可能 也许 大概 几乎 根据 对于 关于 通过 随着 作为 成为 进行 出来
起来 下来 过去 认为 觉得 知道 表示 发现 开始 继续 如此 即使 尽管 无论
只要 只有 除了 此外 而是 就会 不会 不能 不要 没什么 什么样 以及
"""

# Korean: particles + common function eojeol; matched by SUBSTRING inside
# space-split tokens (particles agglutinate onto content words).
_KO = """
이 그 저 것 수 등 들 및 에 의 가 을 를 은 는 와 과 도 로 으로 만
까지 부터 에서 에게 한테 처럼 보다 대로 마다 조차 마저 밖에
이다 있다 없다 하다 되다 같다 그리고 그러나 하지만 그래서 또한 또는
만약 때문 위해 대한 대해 통해 따라 관련 경우 지금 여기 거기 저기
어디 누구 무엇 왜 어떻게 언제 모든 어떤 다른 같은 많은 매우 아주
너무 정말 바로 다시 함께 거의 우리 당신 자신 자기 이런 그런 저런
있는 하는 되는 했다 한다 된다 수도 합니다 입니다 있습니다 했습니다
"""

# Arabic: exact match after stripping tatweel + harakat (text.py).
_AR = """
في من على إلى عن مع هذا هذه ذلك تلك التي الذي الذين ما لا لم لن إن
أن كان كانت يكون تكون هو هي هم هن نحن أنا أنت أو ثم بل لكن إذا حتى
قد كل بعض غير بين عند عندما كيف أين متى لماذا هناك هنا ليس ليست كما
منذ خلال حول دون بعد قبل فوق تحت أمام وراء ضد نحو لدى له لها لهم به
بها بهم فيه فيها فيهم إليه إليها عليه عليها عليهم منه منها منهم أيضا
فقط ربما جدا الآن اليوم أمس غدا إذ حيث بينما لأن لذلك وهو وهي أي أية
كانوا يمكن يجب عليك لديه لدينا نفس بعد قبل حين كلما أكثر أقل جميع
"""

# Japanese: particles + function words (hiragana-heavy, plus common
# kanji function words); matched by greedy maximal-match over kana/kanji
# runs in gooselite.text.stopword_counter — Japanese has no word spaces, and
# particles are the highest-frequency tokens, so max-match over this
# table reproduces the stopword COUNT without a full lexicon, exactly
# like the zh variant.
_JA = """
の に は を た が で て と し れ さ ある いる も する から な こと
として い や など なっ ない この ため その あっ よう また もの という
あり まで られ なる へ か だ これ によって により おり より による ず
なり られる において ば なかっ なく しかし について せ だっ できる
それ う ので なお のみ でき き つ における および いう さらに でも ら
たり たち ます ん なら 特に せる 及び これら とき では にて ほか
ながら うち そして ただし かつて それぞれ または お ほど ものの です
とも どの ここ そこ こちら どこ だれ なに 何 私 あの どれ ほとんど
ました ません でした だが だけ しか ずつ こそ さえ ても けど けれど
"""

# Thai: no word spaces; common function words matched by greedy
# maximal-match over Thai-script runs (gooselite.text.stopword_counter).
_TH = """
ที่ การ ใน เป็น และ ของ มี ได้ ว่า ให้ จะ ไม่ ก็ แต่ หรือ เมื่อ จาก โดย
กับ ความ นี้ ไป มา ต้อง ถึง อยู่ อย่าง ซึ่ง แล้ว ทำ เรา คือ ยัง ด้วย
นั้น เขา คุณ ฉัน ผม กว่า ทั้ง ต่อ ตาม ขึ้น ใช้ เพราะ เพื่อ อะไร ทุก
อีก คน ดี มาก กัน ทาง เอง หลัง เลย ใคร ถ้า ขณะ ครั้ง อื่น จึง เคย
ค่ะ ครับ น่า พอ เพียง ส่วน หนึ่ง สอง ดังนั้น อย่างไร ทำไม เช่น ทั้งนี้
"""

# Vietnamese is written with spaces between syllables, so plain token
# matching works; the table keeps single-syllable function words (the
# classic public list's multi-word entries like "bởi vì" can't match a
# single token and are represented by their head syllable).
_VI = """
và của là có được không trong để cho người với những một các này đã khi
cũng như đến về tại nhiều hơn thì ra nên vì bị do còn nếu mà đó sẽ phải
năm ngày chỉ lại rất từ sau trước trên dưới bởi cùng theo đang mới vẫn
đều nhất hay hoặc nữa rồi đây kia ai gì sao đâu nào ta tôi anh chị em
ông bà họ chúng mình bạn nó thế vậy tuy nhưng dù càng vừa luôn từng
"""

# Hebrew function words are standalone tokens (the one-letter clitic
# prefixes ו/ה/ב/ל/מ attach to the following word and are not split by
# whitespace tokenization, so they are not table entries).
_HE = """
של את על לא זה עם כל הוא היא אני אתה אנחנו הם הן גם כי אם או אבל רק
יש אין מה מי איך למה כאשר אשר בין עד אחרי לפני תחת מעל אצל נגד בלי
ללא כמו יותר פחות מאוד הרבה קצת כבר עוד פה שם כאן אז לכן כך ככה האם
אלה אלו אותו אותה אותם אנו הייתי היה היתה היו להיות אל זו זאת שלו שלה
שלהם שלי שלנו ביותר כדי דרך בגלל למרות אולי תמיד פעם היום אתמול מחר
"""

# Hindi (Devanagari) is space-delimited; function words are standalone
# tokens, so only a table is needed (the canonical resources dir ships
# stopwords-hi.txt with the same convention).
_HI = """
के का एक में की है यह और से हैं को पर इस होता कि जो कर मे गया करने किया
लिये अपने ने नहीं तो ही या हो था द्वारा हुआ तक साथ करना वाले बाद लिए
सकते इसके अभी जैसे सभी करता उनकी तरह उस आदि इसकी उनका इसी पे तथा भी
परंतु इन कम दो वे यदि थे वह कई करें होती अपनी उनके थी जब होते कोई हुई
व जैसा जहाँ होने मैं हम तुम आप उसके उसकी हमारे तुम्हारे आपके यहाँ वहाँ
कब क्यों कैसे कौन क्या कुछ बहुत थोड़ा अधिक फिर अब तब आज कल
"""

# Bengali is space-delimited with standalone function words.
_BN = """
এবং ও থেকে করে না এই যে তার সে হয় আর কি কিন্তু এক এর জন্য সঙ্গে হবে
ছিল তিনি আমি তুমি আমরা তারা এটা ওই সব আগে পরে যদি তবে কেন কোন আছে
নেই খুব আরো মধ্যে উপর কাছে দিয়ে নিয়ে গিয়ে হয়ে বলে এখন তখন আজ কাল
এখানে সেখানে যখন যা যার যাদের কারণ মতো মত হতে হলে করা করার নিজের
আমার তোমার তাদের আমাদের কিছু অনেক আবার শুধু প্রায় এবার ওরা সেই এত
"""

# Turkish is space-delimited; vowel-harmony variants of the common
# clitics (mi/mı/mu/mü, de/da) are enumerated as separate entries.
_TR = """
ve bir bu da de için ile olarak çok daha ama en gibi kadar sonra olan
var yok ben sen o biz siz onlar ne nasıl neden niçin hangi her şey mi
mı mu mü bana sana ona ancak fakat veya ya hem değil ise şu iki üç
kendi bütün bazı diğer aynı böyle şöyle öyle çünkü eğer artık henüz
bile yine belki zaten önce şimdi bugün yarın dün burada orada nerede
ki sadece bunu bunun onun bizim sizin beni seni bunlar şunlar hiç
"""

# Persian is space-delimited (the ezafe and plural clitics attach or
# are written with ZWNJ, which whitespace tokenization keeps inside the
# token, so only standalone function words are table entries; ZWNJ-free
# spellings are used so tokens match under plain str.split).
_FA = """
و در به از که این را با است برای آن یک خود تا بر او ما من شما آنها
هم نیز اما اگر یا نه بله شد شده بود باشد هست نیست همه هیچ هر دو سه
چه چرا چگونه کجا کی وقتی پس بین روی زیر بالا بدون درباره مانند مثل
دیگر همین همان باید شاید البته یعنی ولی چون زیرا سپس اکنون امروز
فردا دیروز اینجا آنجا کسی چیزی خیلی بسیار کم بیشتر کمتر فقط حتی
آیا ایشان اینکه آنکه کدام چند تنها دوباره هنوز همیشه هرگز
"""

# Ukrainian is space-delimited Cyrillic; distinct from the Russian
# table (і/є/це/що vs и/есть/это/что) so the two never alias.
_UK = """
і в не на що з до це як я ми ви він вона воно вони та але й у за
від про так було буде бути є цей ця ці той теж його її їх нас вас
них мене тебе собі щоб коли де хто чому або ні також вже ще тут там
усі все весь який яка яке які мій твій наш ваш свій один два три
дуже більше менше лише тільки навіть може треба немає через після
перед під над між без кожен інший такий тоді зараз сьогодні завтра
"""

# Czech is space-delimited; single-letter prepositions (a, i, k, o,
# s, u, v, z) are genuine high-frequency tokens.
_CS = """
a v na je se z že s do i to jako by ale o k po při za od pro nebo
když už být byl byla bylo jsou jsem jsi jsme jste není co kdo kde
kdy proč jak tak ten ta ti ty my vy on ona oni aby všech každý jen
také ještě může musí u mě tě si nás vás jich jeho její jejich můj
tvůj náš váš svůj jeden dva tři velmi více méně pouze ani nebo tedy
pak nyní dnes zítra včera tady tam přes mezi bez před pod nad
"""

# Romanian is space-delimited; the table keeps diacritic forms (și,
# că, după) — the corpus convention writes them with comma-below.
_RO = """
și în de la a pe cu nu se un o că este sunt am are fi fost pentru
din mai dar sau dacă când unde cine ce cum așa el ea ei ele noi voi
eu tu al ai ale lui sale acest această aceste care fiecare foarte
după între fără sub peste prin către despre până doar numai chiar
atunci acum azi mâine ieri aici acolo meu tău nostru vostru său unul
doi trei mult puțin toate orice alt altă asemenea deci totuși încă
"""

# Greek is space-delimited; the article/pronoun system supplies most
# of the high-frequency tokens.
_EL = """
και το η ο του της των να με σε για από που δεν είναι τα οι στο στη
στην στον ένα μια αυτό αυτή αυτός ως αλλά ή αν θα έχει είχε ήταν πολύ
πιο όπως μετά πριν κατά χωρίς μέχρι επίσης όταν τότε τώρα εδώ εκεί
πώς γιατί τι ποιος όλα κάθε μου σου μας σας τους δύο τρία ακόμη ίσως
λοιπόν ούτε είτε εγώ εσύ εμείς εσείς αυτοί ήδη μόνο πάλι σχεδόν αρκετά
"""

def _tr_dotted_i_variants(words: frozenset[str]) -> frozenset[str]:
    """Python's full casemapping lowers the Turkish dotted capital I
    (U+0130, as in sentence-initial 'İçin') to 'i' + U+0307 COMBINING
    DOT ABOVE — which never equals the plain-'i' table entry. Add every
    dotted-i variant so capitalized/ALL-CAPS forms match after lower()."""
    out = set(words)
    for w in words:
        idxs = [i for i, c in enumerate(w) if c == "i"]
        for mask in range(1, 1 << len(idxs)):
            v = list(w)
            for b, pos in enumerate(idxs):
                if mask >> b & 1:
                    v[pos] = "i\u0307"
            out.add("".join(v))
    return frozenset(out)


def _el_tonos_stripped_variants(words: frozenset[str]) -> frozenset[str]:
    """All-caps Greek is conventionally written WITHOUT tonos accents
    ('ΑΥΤΟ' lowers to 'αυτο', not the table's 'αυτό'); add the
    accent-stripped variant of every entry."""
    import unicodedata

    out = set(words)
    for w in words:
        stripped = "".join(
            c for c in unicodedata.normalize("NFD", w)
            if not unicodedata.combining(c))
        out.add(unicodedata.normalize("NFC", stripped))
    return frozenset(out)


STOPWORDS: dict[str, frozenset[str]] = {
    lang: (_tr_dotted_i_variants(frozenset(words.split())) if lang == "tr"
           else _el_tonos_stripped_variants(frozenset(words.split()))
           if lang == "el" else frozenset(words.split()))
    for lang, words in (
        ("en", _EN), ("de", _DE), ("es", _ES), ("fr", _FR),
        ("it", _IT), ("pt", _PT), ("nl", _NL), ("sv", _SV),
        ("da", _DA), ("fi", _FI), ("hu", _HU), ("id", _ID),
        ("nb", _NO), ("no", _NO), ("pl", _PL), ("ru", _RU),
        ("zh", _ZH), ("ko", _KO), ("ar", _AR),
        ("ja", _JA), ("th", _TH), ("vi", _VI), ("he", _HE),
        ("hi", _HI), ("bn", _BN), ("tr", _TR), ("el", _EL),
        # late-r4 additions — appended LAST so the lang-id tie-break
        # priorities of every earlier table are unchanged
        ("fa", _FA), ("uk", _UK), ("cs", _CS), ("ro", _RO),
    )
}

DEFAULT_LANGUAGE = "en"
